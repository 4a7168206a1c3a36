"""Distributed tile-pyramid pipeline — the north-star job.

Execution shape (chosen for 10^12-image scale):

* **Map-only, one task per input partition.** Each image's tiles depend
  only on that image's row, so rendering is the per-image loop
  ``imagemap.map_images`` over the image table: zero shuffle, bytes
  decoded once per row, Arrow-batched. The reference reaches the same
  shape with a process pool over tile jobs (gdal2tiles
  multi_threaded_tiling :4512, apps/gdalalg_raster_tile.cpp worker
  processes :3628-3810); Spark gives it cluster-wide.
* **Overview levels inside the same task.** Level z-1 is the 2x2
  reduction of level z, exactly like create_overview_tile /
  group_overview_base_tiles (gdal2tiles.py:1466-1530, :1661-1689). Overview
  keys include image_id, so no level ever combines tiles of different
  images: the whole pyramid of an image is reduced where its base tiles
  were rendered (oracle/tiling.build_pyramid), with no shuffle barrier.
* **Skew**: none beyond one image's own tile range — the work follows
  images, not locations.
* **Resume** (--resume semantics, gdal2tiles.py:1492-1495) lives in
  streaming.incremental.resume_tiles: it anti-joins the rendered tile
  keys against the already-written sink, so only new tiles are written.
  The join sits above the render ``mapInPandas``, which Spark cannot push
  it through: every image is still decoded and rendered.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..codecs.registry import encode
from ..oracle.checksum import checksum_image
from ..oracle.tiling import TILE, build_pyramid, render_image_tiles
from .imagemap import map_images

TILE_SCHEMA = (
    "image_id string, z int, x int, y int, tile binary, "
    "cs1 long, cs2 long, cs3 long"
)
TILE_COLUMNS = ["image_id", "z", "x", "y", "tile", "cs1", "cs2", "cs3"]
_IMAGE_COLS = ["image_id", "bytes", "lon", "lat", "gsd_m"]


def _tile_row(image_id, z, tx, ty, arr, codec: str | None = "png") -> dict:
    """One TILE_SCHEMA row with the tile's GDAL checksums.

    ``codec=None``: no tile bytes at all (checksum-only consumers —
    nothing is encoded or shipped through Arrow).
    ``codec='raw'``: C-order uint8 bytes (tiles are always 256^2, band
    count reconstructs as len//65536).
    Any other codec: that codec's container bytes (``'png'`` is the sink
    format)."""
    cs = checksum_image(arr)
    tile = None
    if codec is not None:
        a8 = np.ascontiguousarray(arr, dtype=np.uint8)
        tile = a8.tobytes() if codec == "raw" else encode(a8, codec)
    return dict(
        image_id=image_id, z=int(z), x=int(tx), y=int(ty), tile=tile,
        cs1=cs[0], cs2=cs[1] if len(cs) > 1 else None,
        cs3=cs[2] if len(cs) > 2 else None,
    )


def _decode_raw_tile(b: bytes) -> np.ndarray:
    """Inverse of ``_tile_row(..., codec='raw')``."""
    bands = len(b) // (TILE * TILE)
    a = np.frombuffer(b, dtype=np.uint8)
    return a.reshape(TILE, TILE) if bands == 1 else a.reshape(TILE, TILE, bands)


def render_base_tiles(images: DataFrame, method: str = "nearest",
                      zoom: int | None = None, codec: str | None = "png"
                      ) -> DataFrame:
    """images (input_hint schema) -> base tile rows at native (or fixed) zoom."""
    return map_images(
        images, _IMAGE_COLS, TILE_SCHEMA,
        lambda arr, r: (
            _tile_row(r.image_id, z, tx, ty, t, codec)
            for z, tx, ty, t in render_image_tiles(
                arr, r.lon, r.lat, r.gsd_m, method, zoom=zoom)),
    )


def build_tile_pyramid(images: DataFrame, tminz: int = 0,
                       method: str = "nearest",
                       codec: str | None = "png") -> DataFrame:
    """Full pyramid: base tiles at each image's native zoom plus overview
    levels down to ``tminz``, all computed inside the image's own map task
    (per-image pyramids, like running gdal2tiles per input). Zero shuffles
    at any scale.

    ``codec=None`` emits NULL tile bytes for consumers that aggregate
    keys/checksums only: encoding would buy nothing (PNG filtering +
    deflate is ~63% of this operator's single-thread CPU on partly noisy
    images, against ~19% for render + overview and ~9% each for decode and
    checksums, measured on a 4-vCPU Xeon with numpy 1.26), and a consumer
    that does touch ``tile`` fails loudly instead of silently paying for
    unread bytes."""
    return map_images(
        images, _IMAGE_COLS, TILE_SCHEMA,
        lambda arr, r: (
            _tile_row(r.image_id, z, tx, ty, t, codec)
            for (z, tx, ty), t in build_pyramid(
                arr, r.lon, r.lat, r.gsd_m, tminz, method).items()),
    )


def write_cog_directory(images: DataFrame, root: str,
                        compression: str = "deflate") -> int:
    """COG sink: one Cloud-Optimized GeoTIFF per image at
    ``{root}/{image_id}.tif`` — actual COG containers (tiled TIFF, internal
    2x overviews, IFDs at the head, overview-first tile layout; see
    codecs/cog.py, re-deriving frmts/gtiff/cogdriver.cpp rules), written
    executor-side by ``io.files.write_images``. Returns images written."""
    from ..codecs.cog import encode_cog
    from ..io.files import write_images
    from ..oracle.tiling import geotransform_3857

    return write_images(images, root, lambda a, r: [(
        f"{r.image_id}.tif",
        encode_cog(a, geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0],
                                        r.gsd_m), compression))])


def write_tile_directory(tiles: DataFrame, root: str, scheme: str = "xyz",
                         ext: str = "png", lineage: bool = True) -> int:
    """gdal2tiles-compatible ``{root}/{z}/{x}/{y}.png`` directory sink
    (gdal2tiles.py:1278-1434 base-tile writer; XYZ vs TMS y per
    getYTile/gdal2tiles.py:512-515). Executor-side writes, each tile
    atomic (``io.files.write_file``) — the driver never sees tile bytes.
    Returns the number of FILES this pass wrote, summed from the write
    job's per-task counts (successful attempts only, so a retried task is
    counted once).

    Distinct images sharing a (z, x, y) key are reduced deterministically
    (lowest image_id wins) before writing — without this, collisions
    overwrite each other in task order, nondeterministically. Callers who
    want blended tiles should mosaic first (operators.rasterops.mosaic_tiles)
    and pass the result here.

    ``lineage=True`` (default) additionally writes one atomic JSON
    manifest per TASK PARTITION under ``{root}/_lineage/`` (partition id,
    tile count, byte total, z range) plus a driver-side ``_summary.json``
    — the per-partition lineage + metrics the resumable-pipeline contract
    asks for: a restarted job can read the manifests to see exactly which
    partitions completed, and ``resume_tiles`` anti-joins the keys
    already on disk.

    Manifests are GENERATION-scoped (``part-g000-00001.json``): each
    write pass into the same root gets the next generation index, so a
    resume run's manifests never clash with (or silently overwrite) an
    earlier run's — the return value counts THIS pass only (equal to this
    generation's manifest sum), while ``_summary.json`` accumulates all
    generations (equal to the files on disk whenever later passes are
    incremental, which is what --resume guarantees by anti-joining
    existing keys)."""
    import json
    import os

    from ..io.files import write_file

    if "image_id" in tiles.columns:
        one_per_key = (
            tiles.groupBy("z", "x", "y")
            .agg(F.min_by("tile", "image_id").alias("tile"))
        )
    else:
        one_per_key = tiles.dropDuplicates(["z", "x", "y"])

    # next generation index: scan once driver-side before the write pass
    # (legacy un-prefixed manifests count as generation 0)
    gen = 0
    ldir = os.path.join(root, "_lineage")
    if lineage and os.path.isdir(ldir):
        for name in os.listdir(ldir):
            if name.startswith("part-g") and name.endswith(".json"):
                try:
                    gen = max(gen, int(name[6:9]) + 1)
                except ValueError:
                    pass
            elif name.startswith("part-") and name.endswith(".json"):
                gen = max(gen, 1)

    def write_part(rows):
        from pyspark import TaskContext

        n = 0
        total = 0
        zmin, zmax = None, None
        for r in rows:
            z, x, y = int(r["z"]), int(r["x"]), int(r["y"])
            if scheme == "xyz":
                y = (1 << z) - 1 - y  # TMS -> XYZ
            blob = bytes(r["tile"])
            write_file(os.path.join(root, str(z), str(x), f"{y}.{ext}"), blob)
            n += 1
            total += len(blob)
            zmin = z if zmin is None else min(zmin, z)
            zmax = z if zmax is None else max(zmax, z)
        if lineage and n:
            pid = TaskContext.get().partitionId()
            write_file(
                os.path.join(ldir, f"part-g{gen:03d}-{pid:05d}.json"),
                json.dumps({"partition": pid, "generation": gen,
                            "n_tiles": n, "bytes": total, "zmin": zmin,
                            "zmax": zmax}).encode())
        yield n

    this_run = one_per_key.select("z", "x", "y", "tile").rdd.mapPartitions(
        write_part).sum()
    if lineage:
        parts = read_tile_lineage(root)
        write_file(os.path.join(ldir, "_summary.json"), json.dumps({
            "n_tiles": sum(p["n_tiles"] for p in parts),
            "bytes": sum(p["bytes"] for p in parts),
            "n_partitions": len(parts), "generations": gen + 1,
            "scheme": scheme, "ext": ext}).encode())
    return this_run


def read_tile_lineage(root: str) -> list[dict]:
    """Per-partition manifests of a ``write_tile_directory`` run (sorted
    by partition id) — the resume/verification read side."""
    import json
    import os

    ldir = os.path.join(root, "_lineage")
    out = []
    if not os.path.isdir(ldir):
        return out
    for name in sorted(os.listdir(ldir)):
        if name.startswith("part-") and name.endswith(".json"):
            with open(os.path.join(ldir, name)) as f:
                out.append(json.load(f))
    return out
