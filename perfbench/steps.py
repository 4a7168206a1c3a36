"""The layer-isolating steps of a traced run.

Each step is one call into the program, run once from an empty cache under
its own job group and span; its executed plan is walked afterwards (outside
the span) for the SQL metrics of the layer it isolates. Every step runs on
every workload: a workload's own tables where it has them, the small
companion tables otherwise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gdal_spark.fixtures.tile_grid import tile_grid_df
from gdal_spark.operators.tiling import (
    build_tile_pyramid,
    read_tile_lineage,
    render_base_tiles,
    write_tile_directory,
)
from layers import metric_sum, plan_nodes, storage_bytes
from workloads import (
    K,
    TMINZ,
    count_tile_files,
    joined_images,
    knn_agg,
    knn_result,
    pip_agg,
    pip_pairs,
    pyramid_keys,
)


def run_steps(b, tables: dict, spans, group_prefix: str = "") -> dict:
    """Run every step once; job groups are ``group_prefix`` + step name."""
    spark = b.spark
    m: dict = {}
    python_rows = 0

    def step(name: str, build):
        """Collect ``build()`` under a span; return (rows, plan nodes, seconds)."""
        nonlocal python_rows
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(group_prefix + name, name)
        with spans.span(name) as s:
            df = build()
            rows = df.collect()
        nodes = plan_nodes(df)
        python_rows += metric_sum(nodes, "pythonNumRowsReceived")
        return rows, nodes, s["end"] - s["start"]

    main = spark.read.parquet(tables[b.wl.rows_table][0])
    _, nodes, secs = step("scan", lambda: main.agg(
        F.count("*"), F.max(F.xxhash64(*main.columns))))
    m["scan.bytes"] = metric_sum(nodes, "filesSize", "Scan")
    m["scan.rows"] = metric_sum(nodes, "numOutputRows", "Scan")
    m["scan.time_s"] = metric_sum(nodes, "scanTime", "Scan") / 1e3
    m["step.scan_s"] = secs

    images = tables["images"][0]
    grid = tile_grid_df(spark, 6, 6)
    _, nodes, m["spatial_join.s"] = step("spatial_join", lambda: joined_images(
        spark, images, grid).agg(F.count("*")))
    m["spatial_join.broadcast_bytes"] = metric_sum(nodes, "dataSize", "BroadcastExchange")

    _, _, m["step.render_raw_s"] = step("render_raw", lambda: render_base_tiles(
        joined_images(spark, images, grid), codec=None).agg(F.count("*"), F.sum("cs1")))
    rows, _, m["step.render_png_s"] = step("render_png", lambda: render_base_tiles(
        joined_images(spark, images, grid)).agg(
            F.count("*").alias("n"), F.sum(F.length("tile")).alias("nbytes")))
    m["tile_bytes_mean"] = (rows[0]["nbytes"] or 0) / max(rows[0]["n"], 1)

    sink = b.path(group_prefix + "sink")
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group_prefix + "sink", "sink")
    with spans.span("sink") as s:
        write_tile_directory(build_tile_pyramid(spark.read.parquet(images), tminz=TMINZ,
                                                codec="png"), sink, lineage=True)
    m["sink.s"] = s["end"] - s["start"]
    m["sink.files"], m["sink.bytes"] = count_tile_files(sink)
    m["sink.partitions"] = len(read_tile_lineage(sink))
    tile_rows = sum(len(pyramid_keys(r, TMINZ))
                    for r in tables["images"][1].itertuples(index=False))
    m["sink.files_per_tile_row"] = m["sink.files"] / max(tile_rows, 1)

    rows, nodes, _ = step("pip", lambda: pip_agg(pip_pairs(
        spark, tables["points"][0], tables["polygons"][0])))
    candidates = metric_sum(nodes, "numOutputRows", "BroadcastHashJoin")
    m["spatial_join.candidate_pairs"] = candidates
    m["spatial_join.hit_ratio"] = rows[0]["n"] / max(candidates, 1)
    m["pip_refine.rows"] = metric_sum(nodes, "pythonNumRowsReceived", "ArrowEvalPython")
    m["pip_refine.python_s"] = metric_sum(nodes, "pythonTotalTime", "ArrowEvalPython") / 1e3

    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group_prefix + "knn", "knn")
    with spans.span("knn") as s:
        knn = knn_agg(knn_result(spark, tables["queries"][0], tables["candidates"][0]))
        knn.collect()
    m["knn.s"] = s["end"] - s["start"]
    m["knn.cached_bytes_after"] = storage_bytes(spark)
    # ring-search pair rows: the joins that meet exploded query cells with
    # candidate cells, in every plan reachable from the result
    pairs = sum(
        metrics.get("numOutputRows", 0)
        for name, metrics, node in plan_nodes(knn)
        if "Join" in name and "_jtx" in (out := node.output().toString()) and "_cid" in out
    )
    m["knn.pairs_per_result"] = pairs / (K * len(tables["queries"][1]))
    spark.catalog.clearCache()
    m["arrow.rows_from_python"] = python_rows
    return m
