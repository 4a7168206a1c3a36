"""spark-submit entrypoint for the north-rule tile pipeline.

Ships as ``spark-submit --py-files dist/gdal_spark.zip
jobs/tile_pipeline_job.py`` — the deployment shape BASELINE.json's north
rule mandates ("spark-submit --py-files modules only").  Module level
imports are stdlib-only; ``gdal_spark`` resolves from the --py-files zip
on both driver and executors, so the job runs identically on local[N]
and a real cluster with no repo checkout on any node.

Pipeline (the e2e metric path): read-or-synthesize the image+caption
table -> mercator cell encode -> broadcast spatial join against the tile
grid -> native-zoom tile render (decode + resample, Arrow-batched) ->
z/x/y.png directory sink with per-partition lineage manifests.

``--resume`` writes only tiles absent from the sink: existing keys are
recovered by an executor-parallel directory walk (one task per z/x
directory — the listing itself scales out; at 10^12-tile scale the same
anti-join runs off the lineage manifests instead of a walk), then
anti-joined against the rendered tiles.  The join sits above the render
``mapInPandas``, which Spark cannot push it through, so every image is
still decoded and rendered; only the sink writes are skipped.

Prints ONE JSON line with rows written, wall seconds, and throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet image+caption table")
    src.add_argument("--n-images", type=int,
                     help="synthesize N deterministic images instead")
    p.add_argument("--out", required=True, help="tile directory sink root")
    p.add_argument("--grid-zoom", type=int, default=6,
                   help="tile-grid zoom for the spatial join")
    p.add_argument("--method", default="nearest",
                   choices=["nearest", "bilinear"])
    p.add_argument("--scheme", default="xyz", choices=["xyz", "tms"])
    p.add_argument("--resume", action="store_true",
                   help="skip (z,x,y) keys already present in --out")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def existing_tile_keys(spark, root: str, ext: str = "png"):
    """(z, x, y) keys already in the sink, listed executor-side: the
    driver enumerates only the z/x directory pairs (two shallow readdirs),
    each task lists one leaf directory.  Returns None when the sink is
    empty/absent."""
    zx = []
    try:
        for z in os.listdir(root):
            if not z.isdigit():
                continue
            zdir = os.path.join(root, z)
            for x in os.listdir(zdir):
                if x.isdigit():
                    zx.append((int(z), int(x), os.path.join(zdir, x)))
    except FileNotFoundError:
        return None
    if not zx:
        return None

    from gdal_spark.io.files import read_files

    suffix = "." + ext

    def list_leaf(rows):
        for z, x, path in rows:
            for fn in os.listdir(path):
                if fn.endswith(suffix) and fn[: -len(suffix)].isdigit():
                    yield (z, x, int(fn[: -len(suffix)]))

    return read_files(spark, zx, list_leaf, "z int, x int, y int")


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName("gdal-spark-tile-pipeline")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    # master/deploy come from spark-submit; AQE/Arrow tuning from
    # ensure_runtime
    spark = builder.getOrCreate()

    from gdal_spark.runtime import ensure_runtime

    ensure_runtime(spark)
    spark.sparkContext.setLogLevel("WARN")

    from gdal_spark.fixtures.images import images_df
    from gdal_spark.fixtures.tile_grid import tile_grid_df
    from gdal_spark.functions import cells as C
    from gdal_spark.operators.spatial_join import spatial_join_points_tiles
    from gdal_spark.operators.tiling import render_base_tiles, write_tile_directory

    t0 = time.time()
    if args.input:
        imgs = spark.read.parquet(args.input)
    else:
        imgs = images_df(spark, args.n_images)

    gz = args.grid_zoom
    grid = tile_grid_df(spark, gz, gz)
    joined = spatial_join_points_tiles(
        imgs.withColumn("cell", C.cell("lon", "lat", str(gz + 1))), grid, gz
    ).select("image_id", "bytes", "lon", "lat", "gsd_m", "cell", "x", "y")
    tiles = render_base_tiles(joined, args.method)

    skipped = 0
    existing = None
    if args.resume:
        existing = existing_tile_keys(spark, args.out)
        if existing is not None and args.scheme == "xyz":
            # sink filenames are XYZ y; the render plan (and the sink's
            # input contract) use TMS y — convert back before the anti-join
            existing = existing.withColumn(
                "y", F.expr("shiftleft(1, z) - 1 - y"))
        if existing is not None:
            existing = existing.cache()
            skipped = existing.count()
            tiles = tiles.join(existing, ["z", "x", "y"], "left_anti")

    n_files = write_tile_directory(tiles, args.out, scheme=args.scheme)
    if existing is not None:
        existing.unpersist()
    wall = time.time() - t0

    n_images = imgs.select(F.count("*")).collect()[0][0]
    print(json.dumps({
        "job": "tile_pipeline",
        "out": args.out,
        "images": int(n_images),
        "tiles_written": int(n_files),
        "tiles_skipped_resume": int(skipped),
        "wall_sec": round(wall, 3),
        "images_per_sec": round(n_images / wall, 1) if wall > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
