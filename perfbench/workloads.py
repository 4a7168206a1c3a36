"""The three benchmark workloads: what one timed run calls, and how its
output is checked against an independent replay.

* ``raster_tiles``: the read path. parquet -> cell encode -> broadcast z6
  tile join -> base-tile render (png) -> count, sum(cs1), sum(crc32(tile)).
* ``pyramid_sink``: the write path. build_tile_pyramid(tminz=8, png) ->
  write_tile_directory(lineage=True) into a fresh directory.
* ``vector_join``: the vector side. Point-in-polygon join against broadcast
  diamonds, then a ring-search kNN join (k=4, no broadcast fast path).
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.codecs.registry import decode, encode
from gdal_spark.fixtures.tile_grid import parse_wkb_polygon, tile_grid_df
from gdal_spark.functions import cells as C
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.spatial_join import (
    spatial_join_points_polygons,
    spatial_join_points_tiles,
)
from gdal_spark.operators.tiling import (
    build_tile_pyramid,
    read_tile_lineage,
    render_base_tiles,
    write_tile_directory,
)
from gdal_spark.oracle import mercator as M
from gdal_spark.oracle.checksum import checksum_image
from gdal_spark.oracle.knn import brute_force_knn
from gdal_spark.oracle.pip import point_in_ring
from gdal_spark.oracle.tiling import (
    build_pyramid,
    image_bounds_3857,
    native_zoom,
    render_image_tiles,
    tile_range,
)

TMINZ = 8  # lowest pyramid level of pyramid_sink
PIP_ZOOM = 8  # covering-cell zoom of the polygon join
K = 4  # neighbours per kNN query
KNN_SAMPLE = 30  # kNN ranks are checked on every 30th query id
SINK_SAMPLES = 6  # pyramid files decoded and checked per run


def joined_images(spark, images_path: str, grid):
    """parquet -> cell encode -> broadcast join against the z6 tile grid."""
    imgs = spark.read.parquet(images_path)
    return spatial_join_points_tiles(
        imgs.withColumn("cell", C.cell("lon", "lat", "7")), grid, 6
    ).select("image_id", "bytes", "lon", "lat", "gsd_m", "cell", "x", "y")


def pip_pairs(spark, points_path: str, polygons_path: str):
    pts = spark.read.parquet(points_path)
    polys = spark.read.parquet(polygons_path)
    return spatial_join_points_polygons(pts, polys, PIP_ZOOM,
                                        broadcast_polys=True)


def pip_agg(pairs):
    """Order-free fingerprint of the (pid, poly_id) pair set."""
    return pairs.agg(
        F.count("*").alias("n"), F.sum("pid").alias("s_pid"),
        F.sum("poly_id").alias("s_poly"),
        F.sum((F.col("pid") * 31 + F.col("poly_id")) % 1_000_003).alias("s_mix"),
    )


def knn_result(spark, queries_path: str, candidates_path: str):
    q = spark.read.parquet(queries_path)
    c = spark.read.parquet(candidates_path)
    return knn_join(q, c, K, point_id="pid", cand_id="sid",
                    broadcast_cap=None)


def knn_agg(knn):
    return knn.agg(
        F.count("*").alias("n"),
        F.collect_list(F.when(F.col("pid") % KNN_SAMPLE == 0,
                              F.struct("pid", "sid", "rank"))).alias("sample"),
    )


# ---------------------------------------------------------------- raster_tiles

class RasterTiles:
    name = "raster_tiles"
    sizes = {"images": 240}
    smoke_sizes = {"images": 12}
    warm_sizes = {"images": 12}
    noisy = False
    rows_table = "images"

    def prepare(self, spark, tables):
        return {"grid": tile_grid_df(spark, 6, 6),
                "images": tables["images"][0]}

    def run(self, spark, ctx, out_dir):
        tiles = render_base_tiles(joined_images(spark, ctx["images"], ctx["grid"]))
        row = tiles.agg(
            F.count("*").alias("n"), F.sum("cs1").alias("s1"),
            F.sum(F.crc32(F.col("tile"))).alias("sbytes"),
        ).collect()[0]
        return {"n": int(row["n"]), "s1": int(row["s1"] or 0),
                "sbytes": int(row["sbytes"] or 0)}

    def expect(self, tables):
        """Numpy replay: every fixture point lies in the z6 grid, so each
        image renders its native-zoom tiles."""
        n = s1 = sbytes = nbytes = 0
        for r in tables["images"][1].itertuples(index=False):
            arr = decode(r.bytes)
            for _z, _x, _y, tile in render_image_tiles(arr, r.lon, r.lat, r.gsd_m):
                png = encode(np.ascontiguousarray(tile, dtype=np.uint8), "png")
                n += 1
                s1 += checksum_image(tile)[0]
                sbytes += zlib.crc32(png)
                nbytes += len(png)
        return {"n": n, "s1": s1, "sbytes": sbytes, "tile_bytes_mean": nbytes / max(n, 1)}

    def check(self, result, expected, out_dir):
        return [f"{k}: got {result[k]} want {expected[k]}"
                for k in ("n", "s1", "sbytes") if result[k] != expected[k]]


# ---------------------------------------------------------------- pyramid_sink

def pyramid_keys(r, tminz: int) -> set:
    """Tile keys (z, x, y_tms) of one image's pyramid, without rendering."""
    z = native_zoom(r.gsd_m)
    tx0, ty0, tx1, ty1 = tile_range(image_bounds_3857(r.lon, r.lat, r.w, r.h, r.gsd_m), z)
    level = {(z, x, y) for x in range(tx0, tx1 + 1) for y in range(ty0, ty1 + 1)}
    keys = set(level)
    for zz in range(z, tminz, -1):
        level = {(zz - 1, x >> 1, y >> 1) for _, x, y in level}
        keys |= level
    return keys


def tile_file(root: str, key) -> str:
    z, x, y = key
    return os.path.join(root, str(z), str(x), f"{(1 << z) - 1 - y}.png")


def count_tile_files(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, dirs, names in os.walk(root):
        if "_lineage" in dirs:
            dirs.remove("_lineage")
        for name in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, name))
    return files, nbytes


class PyramidSink:
    name = "pyramid_sink"
    sizes = {"images": 180}
    smoke_sizes = {"images": 12}
    warm_sizes = {"images": 12}
    noisy = True
    rows_table = "images"

    def prepare(self, spark, tables):
        return {"images": tables["images"][0]}

    def run(self, spark, ctx, out_dir):
        imgs = spark.read.parquet(ctx["images"])
        n = write_tile_directory(build_tile_pyramid(imgs, tminz=TMINZ, codec="png"),
                                 out_dir, lineage=True)
        return {"files_written": int(n)}

    def expect(self, tables):
        """Distinct keys of all pyramids, and the checksums of a few files:
        the sink keeps the tile of the lowest image_id per key."""
        pdf = tables["images"][1]
        winner = {}
        for r in pdf.itertuples(index=False):
            for k in pyramid_keys(r, TMINZ):
                if k not in winner or r.image_id < winner[k]:
                    winner[k] = r.image_id
        ordered = sorted(winner)
        step = max(1, len(ordered) // SINK_SAMPLES)
        sample = ordered[::step][:SINK_SAMPLES]
        by_id = {r.image_id: r for r in pdf.itertuples(index=False)}
        checks = {}
        for key in sample:
            r = by_id[winner[key]]
            tiles = build_pyramid(decode(r.bytes), r.lon, r.lat, r.gsd_m, TMINZ)
            checks[key] = checksum_image(tiles[key])
        return {"files": len(winner), "checks": checks}

    def check(self, result, expected, out_dir):
        bad = []
        files, _ = count_tile_files(out_dir)
        with open(os.path.join(out_dir, "_lineage", "_summary.json")) as f:
            summary = json.load(f)
        manifests = sum(p["n_tiles"] for p in read_tile_lineage(out_dir))
        want = expected["files"]
        for label, got in (("files on disk", files), ("_summary n_tiles", summary["n_tiles"]),
                           ("manifest sum", manifests),
                           ("returned", result["files_written"])):
            if got != want:
                bad.append(f"{label}: got {got} want {want}")
        for key, cs in expected["checks"].items():
            path = tile_file(out_dir, key)
            if not os.path.exists(path):
                bad.append(f"missing {path}")
                continue
            with open(path, "rb") as f:
                got = checksum_image(decode(f.read()))
            if got != cs:
                bad.append(f"{key}: checksum {got} want {cs}")
        return bad


# ---------------------------------------------------------------- vector_join

def brute_pip(points, polygons) -> dict:
    """All (point, polygon) containments by bbox scan plus ray cast."""
    mx, my = M.lonlat_to_meters(points["lon"].to_numpy(), points["lat"].to_numpy())
    mx, my = np.asarray(mx, dtype=np.float64), np.asarray(my, dtype=np.float64)
    order = np.argsort(mx, kind="stable")
    sx, sy, spid = mx[order], my[order], points["pid"].to_numpy()[order]
    n = s_pid = s_poly = s_mix = 0
    for p in polygons.itertuples(index=False):
        lo = np.searchsorted(sx, p.minx, side="left")
        hi = np.searchsorted(sx, p.maxx, side="right")
        sel = np.nonzero((sy[lo:hi] >= p.miny) & (sy[lo:hi] <= p.maxy))[0] + lo
        if sel.size == 0:
            continue
        inside = sel[point_in_ring(sx[sel], sy[sel], parse_wkb_polygon(p.wkb))]
        pids = spid[inside].astype(np.int64)
        n += len(pids)
        s_pid += int(pids.sum())
        s_poly += int(p.poly_id) * len(pids)
        s_mix += int(((pids * 31 + int(p.poly_id)) % 1_000_003).sum())
    return {"n": n, "s_pid": s_pid, "s_poly": s_poly, "s_mix": s_mix}


def brute_knn(queries, candidates) -> dict:
    """{pid: ([sid by rank], [dist by rank])} for the sampled queries."""
    q = queries[queries["pid"] % KNN_SAMPLE == 0]
    c = candidates.sort_values("sid", kind="stable")
    qx, qy = M.lonlat_to_meters(q["lon"].to_numpy(), q["lat"].to_numpy())
    cx, cy = M.lonlat_to_meters(c["lon"].to_numpy(), c["lat"].to_numpy())
    idx, dist = brute_force_knn(qx, qy, cx, cy, k=K)
    sids = c["sid"].to_numpy()
    return {int(p): ([int(s) for s in sids[row]], list(d))
            for p, row, d in zip(q["pid"].to_numpy(), idx, dist)}


class VectorJoin:
    name = "vector_join"
    sizes = {"points": 60_000, "polygons": 1_500, "queries": 1_000,
             "candidates": 4_000}
    smoke_sizes = {"points": 3_000, "polygons": 120, "queries": 120,
                   "candidates": 480}
    warm_sizes = {"points": 6_000, "polygons": 150, "queries": 150,
                  "candidates": 600}
    noisy = False
    rows_table = "points"

    def prepare(self, spark, tables):
        return {t: tables[t][0] for t in ("points", "polygons", "queries", "candidates")}

    def run(self, spark, ctx, out_dir):
        pip = pip_agg(pip_pairs(spark, ctx["points"], ctx["polygons"])).collect()[0]
        knn = knn_agg(knn_result(spark, ctx["queries"], ctx["candidates"])).collect()[0]
        ranks = {}
        for s in knn["sample"]:
            ranks.setdefault(int(s["pid"]), {})[int(s["rank"])] = int(s["sid"])
        return {"pip": {k: int(pip[k] or 0) for k in ("n", "s_pid", "s_poly", "s_mix")},
                "knn_n": int(knn["n"]),
                "knn": {p: [r[i] for i in sorted(r)] for p, r in ranks.items()}}

    def expect(self, tables):
        return {"pip": brute_pip(tables["points"][1], tables["polygons"][1]),
                "knn_n": K * len(tables["queries"][1]),
                "knn": brute_knn(tables["queries"][1], tables["candidates"][1]),
                "queries": tables["queries"][1].set_index("pid"),
                "cands": tables["candidates"][1].set_index("sid")}

    def check(self, result, expected, out_dir):
        bad = [f"pip {k}: got {result['pip'][k]} want {v}"
               for k, v in expected["pip"].items() if result["pip"][k] != v]
        if result["knn_n"] != expected["knn_n"]:
            bad.append(f"knn rows: got {result['knn_n']} want {expected['knn_n']}")
        if set(result["knn"]) != set(expected["knn"]):
            bad.append("knn sample: query ids differ")
            return bad
        q, c = expected["queries"], expected["cands"]
        for pid, (want, dists) in expected["knn"].items():
            got = result["knn"][pid]
            if got == want:
                continue
            # accept a swap only between candidates at equal distance: the
            # SQL and numpy mercator formulas differ in the last bits
            qx, qy = M.lonlat_to_meters(q.at[pid, "lon"], q.at[pid, "lat"])
            cx, cy = M.lonlat_to_meters(c.loc[got, "lon"].to_numpy(),
                                        c.loc[got, "lat"].to_numpy())
            if len(got) != len(want) or not np.allclose(
                    np.hypot(cx - qx, cy - qy), dists, rtol=0, atol=1e-6):
                bad.append(f"knn pid {pid}: got {got} want {want}")
        return bad


WORKLOADS = {w.name: w for w in (RasterTiles(), PyramidSink(), VectorJoin())}
