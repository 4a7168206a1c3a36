"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

For every workload it runs ``run.py --size smoke`` untraced and traced, and
checks that every metric named in BENCHMARK.json prints with its unit, that
the output checks pass, and that the traced spans' self times sum to at most
the root span. It also checks that ``run.py`` fails, printing no result, in a
directory that holds only BENCHMARK.json and this directory. Exit code 1 on
the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check(ok: bool, what: str) -> None:
    if not ok:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def main() -> int:
    sys.path.insert(0, HERE)
    from run import END_TO_END, PER_LAYER, WORKLOAD_NAMES

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({w["name"] for w in spec["workloads"]} <= set(WORKLOAD_NAMES),
          "run.py runs every workload BENCHMARK.json names")
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        check({m["name"]: m["unit"] for m in spec[key]} == table,
              f"BENCHMARK.json {key} matches run.py, names and units")

    for workload in WORKLOAD_NAMES:
        for trace, table in ((0, END_TO_END), (1, PER_LAYER)):
            p = run(REPO, "--workload", workload, "--seed", "7", "--seconds", "2",
                    "--trace", str(trace), "--size", "smoke")
            label = f"{workload} trace={trace}"
            check(p.returncode == 0, f"{label} exits 0" + (
                f": {p.stderr[-2000:]}" if p.returncode else ""))
            lines = p.stdout.strip().splitlines()
            result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{label} result keys")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{label} output checks pass")
            check({k: v["unit"] for k, v in result["metrics"].items()} == table,
                  f"{label} prints every metric with its unit")
            if trace:
                with open(os.path.join(REPO, report["spans_file"])) as f:
                    spans = json.load(f)["summary"]
                check(spans["self_sum_s"] <= spans["root_s"] + 1e-9,
                      f"{label} span self times sum to at most the root span")
                check(all(v["self_s"] >= -1e-9 for v in spans["by_name"].values()),
                      f"{label} no span has negative self time")

    os.makedirs(os.path.join(REPO, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(REPO, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "--workload", WORKLOAD_NAMES[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
        check(p.returncode != 0 and '"metrics"' not in p.stdout,
              "without the program, run.py fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
