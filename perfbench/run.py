"""gdal_spark benchmark: one workload per call, closed loop, one client.

    python3 perfbench/run.py --workload raster_tiles --seed 1 --seconds 18 --trace 0

Run from the repository root. ``--trace 0`` sets up several times (session
start, parquet write of the inputs, warm-up on a disjoint input). After each
set-up it runs the workload back to back for its share of ``--seconds``, and
it reports the end-to-end metrics over all the timed calls.
``--trace 1`` runs the workload untraced and traced for half the time each,
then every layer-isolating step twice (a warm pass, then the measured one)
with spans, plan metrics and an event log, and reports the per-layer
metrics.

Standard output: one ``{"report": ...}`` line with the host, the protocol and
every sample, then the result line
``{"correct", "attempted", "failed", "metrics"}``. Exit code 2 when the
``gdal_spark`` package is not beside this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 3  # set-ups per untraced run; setup_s is their median
WARM_CALLS = 1  # untimed calls on the measured tables before the clock starts
WORKLOAD_NAMES = ("raster_tiles", "pyramid_sink", "vector_join")

END_TO_END = {  # name -> unit
    "wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "scan.bytes": "B", "scan.rows": "count", "scan.time_s": "s",
    "step.scan_s": "s",
    "spatial_join.s": "s", "spatial_join.broadcast_bytes": "B",
    "spatial_join.candidate_pairs": "count", "spatial_join.hit_ratio": "ratio",
    "pip_refine.rows": "count", "pip_refine.python_s": "s",
    "knn.s": "s", "knn.pairs_per_result": "ratio", "knn.jobs": "count",
    "knn.cached_bytes_after": "B",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.rows_from_python": "count",
    "python.boot_s": "s", "python.init_s": "s", "python.total_s": "s",
    "python.share": "ratio",
    "step.render_raw_s": "s", "step.render_png_s": "s", "tile_bytes_mean": "B",
    "codecs.decode.calls": "count", "codecs.decode.s": "s",
    "codecs.decode.bytes_in": "B", "codecs.encode.calls": "count",
    "codecs.encode.s": "s", "codecs.encode.bytes_out": "B",
    "render.calls": "count", "render.s": "s", "render.tiles": "count",
    "overview.calls": "count", "overview.s": "s",
    "checksum.calls": "count", "checksum.s": "s",
    "point_in_ring.calls": "count", "point_in_ring.s": "s",
    "exchange.shuffle_bytes": "B", "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s", "exchange.spill_bytes": "B",
    "sink.s": "s", "sink.files": "count", "sink.bytes": "B",
    "sink.partitions": "count", "sink.files_per_tile_row": "ratio",
    "stage.task_skew": "ratio", "stage.tasks": "count", "stage.gc_s": "s",
    "stage.peak_exec_mem_mb": "MB",
    "cache.bytes_after_run": "B",
    "trace.untraced_wall_s": "s", "trace.wall_s": "s", "trace.overhead_s": "s",
}
# companion tables of the traced run, so every layer runs on every workload
COMPANION = {"images": 24, "points": 6_000, "polygons": 150, "queries": 150,
             "candidates": 600}


def host_info(cores: int, driver_mem: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(), "cores_used": cores,
            "driver_memory": driver_mem, "spark": pyspark.__version__,
            "arrow": pyarrow.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


def driver_memory() -> str:
    """A sixth of physical memory, 1-4 GiB: inputs are small, and the host
    is shared."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // 2**20 // 6))}g"


class Bench:
    """One benchmark process: a temp root in the checkout, Spark sessions
    started inside it, and the workload's tables."""

    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        # half the CPUs as task slots: the other half keeps the driver JVM's
        # own threads, this process and a vCPU stalled by the host off the
        # critical path of each stage
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        self.driver_mem = driver_memory()
        scratch = os.path.join(REPO, ".perfbench_tmp")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
        self.out_dir = os.path.join(REPO, ".perfbench_out")
        os.environ.update({
            "TMPDIR": self.tmp, "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "local"),
            # the launcher JVM of spark-submit, which gets no driver options
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
            "PYSPARK_PYTHON": sys.executable,
        })
        self.spark = None
        self.sizes = self.wl.smoke_sizes if args.size == "smoke" else self.wl.sizes
        self.runs = 0

    def path(self, *parts) -> str:
        return os.path.join(self.tmp, *parts)

    def start_session(self, event_dir: str | None = None):
        from pyspark.sql import SparkSession

        from gdal_spark.session import get_spark

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a heap committed and touched up front keeps the JVM's RSS off
            # the timing of its GC cycles, so peak_rss_mb repeats run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                f"-Xms{self.driver_mem} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_dir,
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(cores=self.cores, app_name="perfbench",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def generate(self, extra: dict | None = None) -> tuple[dict, dict]:
        """Seeded frames of the measured tables and of the warm-up tables."""
        from inputs import generate

        seed, noisy = self.args.seed, self.wl.noisy
        return (generate(seed, dict(extra or {}, **self.sizes), noisy=noisy),
                generate(seed, self.wl.warm_sizes, warm=True, noisy=noisy))

    def fresh_out(self) -> str:
        self.runs += 1
        return self.path("out", str(self.runs))

    def warm_up(self, warm) -> None:
        self.wl.run(self.spark, self.wl.prepare(self.spark, warm), self.fresh_out())

    def set_up(self, tag: str, frames: tuple[dict, dict]):
        """Session start, parquet write of the inputs, warm-up on the
        warm-up tables. Returns (seconds, tables, warm-up tables, ctx)."""
        from inputs import write_tables

        t0 = time.perf_counter()
        self.start_session()
        tables = write_tables(frames[0], self.path(tag))
        warm = write_tables(frames[1], self.path(tag, "warm"))
        self.warm_up(warm)
        ctx = self.wl.prepare(self.spark, tables)
        return time.perf_counter() - t0, tables, warm, ctx

    def timed_loop(self, ctx, expected, seconds: float, group: str | None = None,
                   spans=None, after=None, warm_calls: int = 0) -> dict:
        """Run the workload back to back until ``seconds`` have passed.
        Each call starts from an empty cache and a fresh output directory;
        its output is checked after the clock stops. The first
        ``warm_calls`` calls are checked and counted but not timed, and the
        clock starts after them. ``window_s`` is the time from then to the
        end of the last call's check."""
        walls, failed, attempted = [], 0, 0
        t_start = t_end = None
        while attempted <= warm_calls or time.perf_counter() < t_end:
            if attempted == warm_calls:
                t_start = time.perf_counter()
                t_end = t_start + seconds
            self.spark.catalog.clearCache()
            out = self.fresh_out()
            if group:
                self.spark.sparkContext.setJobGroup(f"{group}-{attempted}", group)
            attempted += 1
            try:
                with spans.span(group) if spans else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    result = self.wl.run(self.spark, ctx, out)
                    if attempted > warm_calls:
                        walls.append(time.perf_counter() - t0)
                if after:
                    after()
                bad = self.wl.check(result, expected, out)
            except Exception:  # a failed run is counted, and the loop goes on
                bad = [traceback.format_exc()]
            if bad:
                failed += 1
                print(f"run {attempted} failed: {bad}", file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
        return {"walls": walls, "attempted": attempted, "failed": failed,
                "window_s": time.perf_counter() - t_start}

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        from layers import descendant_pids

        deadline = time.time() + 60
        while descendant_pids(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        shutil.rmtree(self.tmp, ignore_errors=True)


def untraced(b: Bench) -> tuple[dict, dict, dict]:
    from layers import RssSampler

    t0 = time.perf_counter()
    frames = b.generate()
    gen_s = time.perf_counter() - t0
    setups, peaks, windows, expected = [], [], [], None
    loop = {"walls": [], "attempted": 0, "failed": 0}
    # The timed calls are split over the set-ups: a share of --seconds after
    # each one. So they sample the shared host over the whole run, not over
    # one stretch of it, and each session contributes its share.
    for rep in range(SETUP_REPS):
        seconds, tables, _, ctx = b.set_up(f"in{rep}", frames)
        setups.append(seconds)
        if expected is None:
            expected = b.wl.expect(tables)
        share = (rep + 1) * b.args.seconds / SETUP_REPS - sum(windows)
        with RssSampler() as rss:
            part = b.timed_loop(ctx, expected, max(share, 0.0),
                                warm_calls=WARM_CALLS if rep == 0 else 0)
        peaks.append(rss.peak)
        windows.append(part["window_s"])
        for key in loop:
            loop[key] += part[key]
        if rep + 1 < SETUP_REPS:  # session stop is teardown, not set-up
            b.spark.stop()
            b.spark = None
            shutil.rmtree(b.path(f"in{rep}"), ignore_errors=True)
    rows = len(tables[b.wl.rows_table][1])
    wall = statistics.median(loop["walls"])
    metrics = {"wall_s": wall, "rows_per_s": rows / wall,
               "setup_s": statistics.median(setups),
               "peak_rss_mb": max(peaks) / 2**20}
    samples = {"wall_s": loop["walls"], "setup_s": setups, "window_s": windows}
    # reported beside the metrics: failed_frac is 0 in a healthy run, and
    # only raster_tiles has an oracle tile size
    also = {"failed_frac": {"value": loop["failed"] / loop["attempted"], "unit": "ratio"},
            "generate_s": {"value": gen_s, "unit": "s"}}
    if "tile_bytes_mean" in expected:
        also["tile_bytes_mean"] = {"value": expected["tile_bytes_mean"], "unit": "B"}
    return loop, metrics, {"samples": samples, "rows": rows, "also": also}


def traced(b: Bench) -> tuple[dict, dict, dict]:
    from layers import EventLog, Spans, replay, replay_metrics, storage_bytes
    from steps import run_steps
    from workloads import TMINZ

    extra = {k: v for k, v in COMPANION.items() if k not in b.sizes}
    half = b.args.seconds / 2
    _, tables, warm, ctx = b.set_up("in", b.generate(extra))
    expected = b.wl.expect(tables)
    plain = b.timed_loop(ctx, expected, half)

    event_dir = b.path("events")
    spans = Spans(uuid.uuid4().hex[:12])
    b.start_session(event_dir)
    b.warm_up(warm)
    ctx = b.wl.prepare(b.spark, tables)
    cached = []
    with spans.span("run"):
        loop = b.timed_loop(ctx, expected, half, group="workload", spans=spans,
                            after=lambda: cached.append(storage_bytes(b.spark)))
        with spans.span("steps.warm"):  # first pass warms each step's code paths
            run_steps(b, tables, spans, group_prefix="warm-")
        metrics = run_steps(b, tables, spans)
        with spans.span("replay"):
            replay(spans, tables["images"][1], tables["points"][1],
                   tables["polygons"][1], TMINZ)
    b.spark.stop()
    b.spark = None
    log = EventLog(event_dir)
    per_run = [log.group_metrics(f"workload-{i}") for i in range(loop["attempted"])]
    for key in per_run[0]:
        metrics[key] = statistics.median(r[key] for r in per_run)
    metrics["knn.jobs"] = log.jobs.get("knn", 0)
    metrics["python.boot_s"] = log.total("time to start Python workers") / 1e3
    metrics["python.init_s"] = log.total("time to initialize Python workers") / 1e3
    metrics["cache.bytes_after_run"] = statistics.median(cached) if cached else 0
    metrics.update(replay_metrics(spans))
    metrics["trace.untraced_wall_s"] = statistics.median(plain["walls"])
    metrics["trace.wall_s"] = statistics.median(loop["walls"])
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - metrics["trace.untraced_wall_s"]

    os.makedirs(b.out_dir, exist_ok=True)
    spans_file = os.path.join(
        b.out_dir, f"spans-{b.args.workload}-{b.args.seed}-{spans.run_id}.json")
    spans.write(spans_file)
    summary = spans.summary()
    attempted = plain["attempted"] + loop["attempted"]
    failed = plain["failed"] + loop["failed"]
    return ({"attempted": attempted, "failed": failed},
            {k: metrics[k] for k in PER_LAYER},
            {"also": {"failed_frac": {"value": failed / attempted, "unit": "ratio"}},
             "spans_file": os.path.relpath(spans_file, REPO),
             "span_root_s": summary["root_s"], "span_self_sum_s": summary["self_sum_s"],
             "span_self_s": {k: v["self_s"] for k, v in summary["by_name"].items()},
             "samples": {"untraced_wall_s": plain["walls"], "traced_wall_s": loop["walls"]}})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "smoke"], default="bench")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "gdal_spark", "__init__.py")):
        print(f"gdal_spark package not found in {REPO}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]

    b = Bench(args)
    try:
        loop, metrics, extra = (traced if args.trace else untraced)(b)
        units = PER_LAYER if args.trace else END_TO_END
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host_info(b.cores, b.driver_mem),
            "protocol": {"loop": "closed, 1 client", "run_seconds": args.seconds,
                         "setup_reps": 1 if args.trace else SETUP_REPS,
                         "estimator": "median", "runs": loop["attempted"]},
            "inputs": b.sizes, **extra,
        }
    finally:
        b.close()
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": loop["failed"] == 0, "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
