"""Per-layer measurement from outside the program.

* ``Spans``: named intervals with parents, kept in memory, written at the end.
* ``plan_nodes``: the SQL metrics of an executed DataFrame, found by walking
  the final adaptive plan, its query stages and the plans of cached relations.
* ``EventLog``: task metrics and named SQL accumulables from Spark's event
  log, grouped by job group.
* ``RssSampler``: peak resident memory of this process's descendants (the
  driver JVM and its Python workers).
* ``replay``: single-thread timing of the numpy kernels the Python workers run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from gdal_spark.codecs.registry import decode, encode
from gdal_spark.fixtures.tile_grid import parse_wkb_polygon
from gdal_spark.oracle import mercator as M
from gdal_spark.oracle.checksum import checksum_image
from gdal_spark.oracle.pip import point_in_ring
from gdal_spark.oracle.tiling import overview_tile_from_children, render_image_tiles


class Spans:
    """Spans of one run: (name, start, end, parent index, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> list[float]:
        """Each span's duration minus the durations of its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def summary(self) -> dict:
        """Total and self seconds per span name, plus the root duration."""
        out: dict = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
        for s, own in zip(self.spans, self.self_times()):
            row = out[s["name"]]
            row["n"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += own
        roots = [s["end"] - s["start"] for s in self.spans if s["parent"] is None]
        return {"root_s": sum(roots), "self_sum_s": sum(self.self_times()),
                "by_name": dict(out)}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "summary": self.summary()}, f)


def plan_nodes(df) -> list[tuple[str, dict, object]]:
    """(node name, {metric key: value}, java node) for every node of the
    plan ``df`` last executed, including adaptive query stages and the
    plans that filled cached relations (each cached plan once)."""
    jvm = df.sparkSession._jvm
    seen: set = set()
    out: list = []

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.finalPhysicalPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "InMemoryTableScanExec":
            cached = p.relation().cachedPlan()
            ident = jvm.System.identityHashCode(cached)
            if ident not in seen:
                seen.add(ident)
                walk(cached)
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((p.nodeName(), metrics, p))
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def metric_sum(nodes, key: str, name_has: str = "") -> int:
    return sum(m.get(key, 0) for n, m, _ in nodes if name_has in n)


class EventLog:
    """Per job group: task metrics, named SQL accumulables and job counts."""

    def __init__(self, log_dir: str):
        self.tasks: dict = defaultdict(list)
        self.accums: dict = defaultdict(lambda: defaultdict(float))
        self.jobs: dict = defaultdict(int)
        stage_group: dict = {}
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        for name in names:
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line), stage_group)

    def _event(self, e: dict, stage_group: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.jobs[group] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"), "")
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            self.tasks[group].append({
                "stage": e.get("Stage ID"),
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "peak_mem": tm.get("Peak Execution Memory", 0),
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            })
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name and not name.startswith("internal.") and upd is not None:
                    try:
                        self.accums[group][name] += float(upd)
                    except (TypeError, ValueError):
                        pass

    def group_metrics(self, group: str) -> dict:
        tasks = self.tasks.get(group, [])
        acc = self.accums.get(group, {})
        by_stage: dict = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["run_ms"])
        skew = 1.0
        if by_stage:
            slowest = max(by_stage.values(), key=sum)
            med = statistics.median(slowest)
            skew = max(slowest) / med if med > 0 else float(len(slowest))
        run_ms = sum(t["run_ms"] for t in tasks)
        py_ms = acc.get("time to run Python workers", 0.0)
        return {
            "python.total_s": py_ms / 1e3,
            "python.share": py_ms / run_ms if run_ms else 0.0,
            "arrow.bytes_to_python": acc.get("data sent to Python workers", 0.0),
            "arrow.bytes_from_python": acc.get("data returned from Python workers", 0.0),
            "exchange.shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "exchange.write_s": sum(t["shuffle_write_ns"] for t in tasks) / 1e9,
            "exchange.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
            "exchange.spill_bytes": sum(t["spill"] for t in tasks),
            "stage.task_skew": skew,
            "stage.tasks": len(tasks),
            "stage.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "stage.peak_exec_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / 2**20,
        }

    def total(self, accum_name: str) -> float:
        return sum(a.get(accum_name, 0.0) for a in self.accums.values())


def _children() -> dict:
    """{parent pid: [child pids]} of every live process."""
    children: dict = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(d))
    return children


def descendant_pids(root: int) -> list[int]:
    children, found = _children(), []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _rss(pid: int, page: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * page
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants in a thread."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = sum(_rss(pid, self._page) for pid in descendant_pids(me))
            self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def storage_bytes(spark) -> int:
    """Memory plus disk held by cached RDDs and DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def replay(spans: Spans, images, points, polygons, tminz: int,
           n_images: int = 12, n_polygons: int = 40) -> None:
    """Time the worker kernels one call at a time, in this process, on the
    first rows of the inputs. Each call is a span named after its kernel;
    counts go into the span record."""
    for r in images.head(n_images).itertuples(index=False):
        with spans.span("codecs.decode") as s:
            arr = decode(r.bytes)
        s["bytes"] = len(r.bytes)
        with spans.span("render") as s:
            tiles = list(render_image_tiles(arr, r.lon, r.lat, r.gsd_m))
        s["tiles"] = len(tiles)
        level = {}
        for z, x, y, tile in tiles:
            with spans.span("checksum"):
                checksum_image(tile)
            with spans.span("codecs.encode") as s:
                png = encode(np.ascontiguousarray(tile, dtype=np.uint8), "png")
            s["bytes"] = len(png)
            level[(x, y)] = tile
        z = tiles[0][0] if tiles else tminz
        while z > tminz and level:
            groups: dict = {}
            for (x, y), t in level.items():
                groups.setdefault((x >> 1, y >> 1), {})[(x & 1, y & 1)] = t
            level = {}
            for key, children in groups.items():
                with spans.span("overview"):
                    first = next(iter(children.values()))
                    level[key] = overview_tile_from_children(
                        children, bands=first.shape[2] if first.ndim == 3 else 1)
            z -= 1
    mx, my = M.lonlat_to_meters(points["lon"].to_numpy(), points["lat"].to_numpy())
    for p in polygons.head(n_polygons).itertuples(index=False):
        ring = parse_wkb_polygon(p.wkb)
        with spans.span("point_in_ring"):
            point_in_ring(mx, my, ring)


def replay_metrics(spans: Spans) -> dict:
    def field(name, key):
        return sum(s.get(key, 0) for s in spans.spans if s["name"] == name)

    out = {}
    for name in ("codecs.decode", "codecs.encode", "render", "overview",
                 "checksum", "point_in_ring"):
        out[f"{name}.calls"] = spans.count(name)
        out[f"{name}.s"] = spans.duration(name)
    out["codecs.decode.bytes_in"] = field("codecs.decode", "bytes")
    out["codecs.encode.bytes_out"] = field("codecs.encode", "bytes")
    out["render.tiles"] = field("render", "tiles")
    return out
