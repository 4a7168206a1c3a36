"""Physical-plan audit — asserts the plans are the plans we want.

Checks, per representative query:
* cell/tile math contains NO Python eval nodes (stays in codegen);
* parquet scans show pushed filters / pruned schemas where expected;
* the tile-grid spatial join broadcasts the grid side;
* top-k similarity plans TakeOrderedAndProject (no full sort).

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gdal_spark.session import get_spark
from gdal_spark.sql.geoviews import CUSTOMER_POINTS_CTE, register_tpch_views
from gdal_spark.sql import templates as T


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=8, app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    register_tpch_views(spark, sf)
    failures = []

    def check(name, ok, detail=""):
        print(("PASS " if ok else "FAIL ") + name + (f" — {detail}" if detail else ""))
        if not ok:
            failures.append(name)

    # 1. cell math: pure JVM
    df = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()} "
        f"SELECT pid, {T.sql_cell('lon', 'lat', '7')} AS cell FROM customer_points"
    )
    p = plan_of(df)
    check(
        "cell-math has no Python nodes",
        "EvalPython" not in p and "MapInPandas" not in p,
    )

    # 2. filter pushdown to parquet scan
    df = spark.table("lineitem").where(F.col("l_quantity") > 45).select("l_orderkey")
    p = plan_of(df)
    check(
        "filter pushed to scan",
        "PushedFilters: [" in p and "l_quantity" in p.split("PushedFilters:")[1][:200],
        "PushedFilters present",
    )
    check(
        "column pruning (2-col read schema)",
        "ReadSchema" in p and "l_extendedprice" not in p.split("ReadSchema")[1][:300],
    )

    # 3. tile join broadcasts the grid
    from gdal_spark.fixtures.tile_grid import tile_grid_df
    from gdal_spark.operators.spatial_join import spatial_join_points_tiles

    pts = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT * FROM customer_points"
    )
    j = spatial_join_points_tiles(pts, tile_grid_df(spark, 6, 6), 6)
    p = plan_of(j)
    check("tile join is broadcast", "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p)
    check("tile join not sort-merge", "SortMergeJoin" not in p)

    # 4. top-k plans TakeOrdered
    df = spark.table("orders").orderBy(F.col("o_totalprice").desc()).limit(10)
    p = plan_of(df)
    check("top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in p)

    # 5. summary agg is partial (map-side combine)
    df = spark.table("lineitem").groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = plan_of(df)
    check("group-by has partial aggregation", p.count("HashAggregate") >= 2)

    # 6. per-image pyramid is MAP-ONLY: zero exchanges in the whole plan
    from gdal_spark.fixtures.images import images_df
    from gdal_spark.operators.tiling import build_tile_pyramid

    imgs = images_df(spark, 60)
    df = build_tile_pyramid(imgs, tminz=8, codec=None)
    p = plan_of(df)
    check("per-image pyramid has zero shuffles", "Exchange" not in p,
          "no Exchange node in the plan")

    # 7. convex-polygon overlay broadcasts the method layer
    import pandas as pd

    from gdal_spark.functions.geometry import diamond_wkb
    from gdal_spark.operators.layer_algebra import poly_intersection

    a = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT pid AS aid, "
        f"{T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my, 300000.0 AS s "
        "FROM customer_points"
    ).select("aid", diamond_wkb("mx", "my", "s").alias("wkb"))
    b = spark.sql(
        "SELECT CAST(id AS BIGINT) AS bid, CAST(id AS DOUBLE) * 1000.0 AS mx,"
        " 0.0 AS my, 1000000.0 AS s FROM range(50)"
    ).select("bid", diamond_wkb("mx", "my", "s").alias("wkb"))
    p = plan_of(poly_intersection(a, b))
    check("polygon overlay broadcasts the method layer",
          "BroadcastHashJoin" in p)
    check("polygon overlay not sort-merge", "SortMergeJoin" not in p)

    # 8. distributed rasterize: exactly ONE shuffle (the per-tile groupBy);
    # bbox->tile fan-out stays map-side
    from gdal_spark.queries import _rect_wkb_layer
    from gdal_spark.operators.vectorize import rasterize_layer

    rz = rasterize_layer(_rect_wkb_layer(spark), minx=-20100000.0,
                         maxy=20100000.0, cell=150000.0, nx=268, ny=268,
                         attribute="bv", add=True)
    p = plan_of(rz)
    check("rasterize_layer has exactly one shuffle",
          p.count("Exchange") - p.count("ReusedExchange") == 1,
          f"{p.count('Exchange')} Exchange nodes")

    # --- PQ ADC top-k: per-partition partial top-k, no wide shuffle ----
    import numpy as np

    from gdal_spark.operators.similarity import pq_encode, pq_topk, pq_train

    emb = spark.table("embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"),
    )
    qv = np.asarray(emb.first()["embedding"], dtype=np.float64)
    books = pq_train(emb, m=8, ksub=32, sample=512)
    codes = pq_encode(emb, books)
    p = plan_of(pq_topk(codes, books, qv, k=10))
    check("PQ ADC top-k is TakeOrderedAndProject",
          "TakeOrderedAndProject" in p)
    check("PQ ADC top-k has zero shuffles", "Exchange" not in p,
          f"{p.count('Exchange')} Exchange nodes")

    # --- gdaltindex: pure metadata column math, map-only -----------------
    from gdal_spark.fixtures.images import images_df
    from gdal_spark.operators.rasterops import tile_index

    p = plan_of(tile_index(images_df(spark, 64)))
    check("tile_index extent math has no Python nodes beyond the source scan",
          "BatchEvalPython" not in p and "ArrowEvalPython" not in p)
    check("tile_index is map-only", "Exchange" not in p,
          f"{p.count('Exchange')} Exchange nodes")

    # --- Gopher text rules: per-doc signals map-only, top-bigram partial --
    from gdal_spark.functions.text import gopher_metrics, top_bigram_frac

    docs = spark.table("documents")
    gm = gopher_metrics("text")
    p = plan_of(docs.select("doc_id", *[v.alias(k) for k, v in gm.items()]))
    check("gopher per-doc metrics are map-only JVM column math",
          "Exchange" not in p and "BatchEvalPython" not in p
          and "ArrowEvalPython" not in p)
    p = plan_of(top_bigram_frac(docs))
    check("gopher top-bigram count has partial aggregation",
          p.count("HashAggregate") >= 2)
    check("gopher top-bigram has no Python nodes",
          "BatchEvalPython" not in p and "ArrowEvalPython" not in p)

    # --- fused raster pipeline: one map stage, zero shuffles --------------
    from gdal_spark.pipeline import run_pipeline

    src = images_df(spark, 32)
    base_py = plan_of(src).count("MapInPandas")  # the fixture generator
    p = plan_of(run_pipeline(
        src, "resize w=64 h=64 ! neighbors kernel=gaussian size=3 ! hillshade"))
    check("fused raster pipeline is map-only", "Exchange" not in p,
          f"{p.count('Exchange')} Exchange nodes")
    check("fused raster pipeline adds exactly ONE Python stage for 3 steps",
          p.count("MapInPandas") == base_py + 1,
          f"{p.count('MapInPandas')} vs source {base_py}")

    # --- round 5: FlatGeobuf feature encode is map-only --------------------
    from gdal_spark.operators.rasterops import footprint

    feats = footprint(images_df(spark, 16), threshold=0).select(
        "image_id", "wkb", "n_valid")
    base_py = plan_of(feats).count("MapInPandas")
    import pandas as _pd

    from gdal_spark.io.flatgeobuf import encode_feature

    def _enc(batches):
        for pdf in batches:
            recs = [encode_feature(bytes(w), [(0, 11, i)])[0]
                    for i, w in zip(pdf["image_id"], pdf["wkb"])]
            yield _pd.DataFrame({"rec": recs})

    p = plan_of(feats.mapInPandas(_enc, schema="rec binary"))
    check("flatgeobuf feature encode is map-only (sort is the only shuffle)",
          "Exchange" not in p and p.count("MapInPandas") == base_py + 1,
          f"{p.count('Exchange')} Exchange, {p.count('MapInPandas')} Python")

    # --- round 5: the ANN-gated similarity_topk still plans TakeOrdered ----
    from gdal_spark.queries import QUERIES

    p = plan_of(QUERIES["similarity_topk"][0](spark, sf))
    check("similarity_topk gate plans TakeOrderedAndProject",
          "TakeOrderedAndProject" in p)

    # --- round 5 folds: corpus-suite gates keep their scale shapes ---------
    p = plan_of(QUERIES["exact_dedup_docs"][0](spark, sf))
    check("corpus suite (dedup/vocab/bm25/contam/minsig) has no cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoop" not in p)
    from gdal_spark.operators.dedup import minhash_signatures
    from gdal_spark.queries import _md5_int64
    from gdal_spark.functions.text import shingles

    p = plan_of(minhash_signatures(
        spark.table("documents"),
        shingle_hashes_col=F.transform(shingles("text", 5), _md5_int64)))
    check("minsig signature path is map-only (no Exchange)",
          "Exchange" not in p, f"{p.count('Exchange')} Exchange nodes")
    p = plan_of(QUERIES["text_metrics"][0](spark, sf))
    check("text_metrics incl. dup-ngram probe keeps ONE aggregation shuffle",
          p.count("Exchange") <= 3,  # top-bigram partial agg + join sides
          f"{p.count('Exchange')} Exchange nodes")

    # --- round 5: coverage trio + mdim mosaic keep their scale shapes ----
    import numpy as np

    from gdal_spark.operators.multidim import (MDMeta, array_to_chunks,
                                               md_mosaic)
    mm_parts = []
    for i, (oy, ox) in enumerate([(0, 0), (0, 6), (4, 0), (4, 6)]):
        mmeta = MDMeta("z", [("y", 4), ("x", 6)], [2, 3])
        mm_parts.append((array_to_chunks(
            spark, np.full((4, 6), float(i + 1)), mmeta), mmeta, (oy, ox)))
    merged, _ = md_mosaic(mm_parts)
    p = plan_of(merged)
    check("mdim mosaic: zero-shuffle re-key, ONE overlap-resolve Exchange",
          p.count("Exchange") == 1 and "max_by" in p,
          f"{p.count('Exchange')} Exchange nodes")

    print(f"\n{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
