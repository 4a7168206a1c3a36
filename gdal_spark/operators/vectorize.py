"""Raster<->vector conversion operators: rasterize (burn), polygonize
(connected components), sieve, proximity — per-image Arrow UDFs over the
numpy kernels in oracle/rasterize.py.

Reference semantics: alg/gdalrasterize.cpp:999 (GDALRasterizeGeometries,
even-odd scanline fill), alg/polygonize.cpp (GDALPolygonize),
alg/gdalsievefilter.cpp (GDALSieveFilter), alg/gdalproximity.cpp
(GDALComputeProximity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..oracle.checksum import checksum_image
from ..oracle.rasterize import (
    polygonize as _polygonize,
    proximity as _proximity,
    sieve as _sieve,
)
from .imagemap import map_images


def polygonize(images: DataFrame, quantize: int = 64,
               downsample_to: int | None = 64,
               emit_rings: bool = False,
               connectivity: int = 4) -> DataFrame:
    """GDALPolygonize over band 1 quantized to ``256/quantize`` classes
    (polygonize runs on classified rasters); optional nearest downsample
    bounds per-image component counts. One row per connected component;
    with ``emit_rings`` each row carries the traced outer boundary as WKB
    in pixel-corner coordinates plus the interior-ring (hole) count —
    the full raster->vector output (alg/polygonize_polygonizer.cpp).
    ``connectivity`` 4 or 8 = the 8CONNECTED option (alg/polygonize.cpp:87;
    with 8, diagonally-touching squares join into one self-touching
    polygon, the reference's corner-pinch output)."""
    from ..fixtures.tile_grid import wkb_polygon
    from ..oracle.rasterize import polygonize_rings
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        a = a[:, :, 0]
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        q = (a // quantize).astype(np.uint8)
        if emit_rings:
            for comp_id, (val, cnt, outer, holes) in enumerate(
                polygonize_rings(q, connectivity), start=1
            ):
                yield dict(image_id=r.image_id, comp_id=comp_id,
                           value=int(val), pixel_count=cnt,
                           wkb=wkb_polygon(outer), n_holes=holes)
        else:
            for comp_id, (val, cnt, r0, c0, r1, c1) in enumerate(
                _polygonize(q, connectivity), start=1
            ):
                yield dict(image_id=r.image_id, comp_id=comp_id,
                           value=int(val), pixel_count=cnt,
                           min_row=r0, min_col=c0, max_row=r1, max_col=c1)

    schema = (
        "image_id string, comp_id int, value int, pixel_count long, "
        "wkb binary, n_holes int"
        if emit_rings
        else "image_id string, comp_id int, value int, pixel_count long, "
             "min_row int, min_col int, max_row int, max_col int"
    )
    return map_images(images, ["image_id", "bytes"], schema, per_image)


def sieve_filter(images: DataFrame, threshold: int = 4, quantize: int = 64,
                 downsample_to: int | None = 32,
                 connectivity: int = 4) -> DataFrame:
    """GDALSieveFilter: drop components below ``threshold`` px (merged into
    the most-bordering neighbor); emits before/after component counts +
    checksum. ``connectivity`` 4 or 8 (alg/gdalsievefilter.cpp:166)."""
    from ..oracle.rasterize import label_components
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        a = a[:, :, 0]
        if downsample_to:
            a = resample_nearest(a, downsample_to, downsample_to)
        q = (a // quantize).astype(np.uint8)
        _, n_before = label_components(q, connectivity)
        s = _sieve(q, threshold, connectivity)
        _, n_after = label_components(s, connectivity)
        yield dict(image_id=r.image_id, n_before=n_before,
                   n_after=n_after, cs=checksum_image(s)[0])

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_before int, n_after int, cs long", per_image)


def proximity_map(images: DataFrame, target_value: int = 0,
                  downsample_to: int | None = 64,
                  round_to: int | None = 4,
                  max_distance: float | None = None,
                  nodata: float = -1.0,
                  fixed_buf_val: float | None = None,
                  cell_size: float = 1.0) -> DataFrame:
    """GDALComputeProximity: chamfer distance to the nearest band-1 pixel
    equal to ``target_value``; summary stats per image.
    ``round_to=None`` emits the raw doubles (the exact-oracle path, where
    the caller pins micro-units instead of a decimal rounding).

    Option surface per alg/gdalproximity.cpp:64-92: ``max_distance``
    (-maxdist; beyond it the output is ``nodata``), ``fixed_buf_val``
    (FIXED_BUF_VAL: every within-threshold pixel gets the constant
    instead of its distance), ``cell_size`` != 1 = DISTUNITS=GEO
    (distances and maxdist in georeferenced units)."""
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        a = a[:, :, 0]
        if downsample_to:
            a = resample_nearest(a, downsample_to, downsample_to)
        mask = a == target_value
        if not mask.any():
            yield dict(image_id=r.image_id, dmax=-1.0, dmean=-1.0)
            return
        d = _proximity(mask) * cell_size
        if max_distance is not None:
            within = d <= max_distance
            if fixed_buf_val is not None:
                d = np.where(within, fixed_buf_val, nodata)
            else:
                d = np.where(within, d, nodata)
        elif fixed_buf_val is not None:
            d = np.full_like(d, fixed_buf_val)
        dmax, dmean = float(d.max()), float(d.mean())
        if round_to is not None:
            dmax = float(np.round(dmax, round_to))
            dmean = float(np.round(dmean, round_to))
        yield dict(image_id=r.image_id, dmax=dmax, dmean=dmean)

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, dmax double, dmean double", per_image)


def rasterize_layer(polys: DataFrame, minx: float, maxy: float, cell: float,
                    nx: int, ny: int, wkb_col: str = "wkb",
                    fid_col: str = "fid", burn: float = 1.0,
                    attribute: str | None = None, add: bool = False,
                    all_touched: bool = False, z_col: str | None = None,
                    inverse: bool = False, tile_px: int = 128) -> DataFrame:
    """gdal_rasterize for polygon layers with the full option surface
    (alg/gdalrasterize.cpp:796-811, 999): even-odd scanline fill with
    holes, ``attribute`` burn (-a), ``add`` vs replace (-add / GRIO_ADD),
    ``all_touched`` (-at, GDALdllImageLineAllTouched boundary traversal),
    and BURN_VALUE_FROM=Z via ``z_col`` (-3d; array<double> of per-vertex
    Z aligned with the concatenated ring vertices incl. closing points).

    ``inverse`` (-i, apps/gdal_rasterize_lib.cpp:737 InvertGeometries):
    burn where NOT covered — the dataset-extent ring plus every feature
    ring fill as ONE even-odd geometry, reproducing the reference quirk
    that a pixel inside an even number of overlapping polygons stays
    burned (extent parity 1 + even crossings = odd). Constant burn only
    (the reference merges all geometries, so -a / -3d do not compose).

    Distributed shape: each feature's bbox explodes to the output TILES it
    covers (tile_px x tile_px pixel blocks), one shuffle groups features
    per tile, and the scanline kernel burns each tile independently in
    FEATURE-ID ORDER (replace mode is deterministic last-fid-wins, the
    reference's feature iteration order).  No per-feature global raster is
    ever materialized — at 10^12 scale the output is the sparse non-zero
    pixel set, partitioned by tile."""
    from pyspark.sql import functions as F

    from ..oracle import geom as G
    from ..oracle.rasterize import rasterize_lines, rasterize_rings
    from .layer_algebra import wkb_bounds

    bv = (F.col(attribute).cast("double") if attribute is not None
          else F.lit(float(burn)))
    zs = (F.col(z_col) if z_col is not None
          else F.lit(None).cast("array<double>"))
    ntx = (nx + tile_px - 1) // tile_px
    nty = (ny + tile_px - 1) // tile_px
    span = float(cell) * tile_px
    feats = wkb_bounds(polys.select(
        F.col(fid_col).alias("fid"), F.col(wkb_col).alias("wkb"),
        bv.alias("bv"), zs.alias("zs"),
    )).where(
        # Drop features whose bbox misses the raster extent entirely;
        # without this, Spark's sequence(start, stop) with start > stop
        # yields a DESCENDING run of out-of-range tile indices.
        (F.col("maxx") >= F.lit(minx))
        & (F.col("minx") <= F.lit(minx + nx * float(cell)))
        & (F.col("maxy") >= F.lit(maxy - ny * float(cell)))
        & (F.col("miny") <= F.lit(maxy))
    ).select(
        "fid", "wkb", "bv", "zs",
        F.explode(F.sequence(
            F.greatest(F.floor((F.col("minx") - F.lit(minx))
                               / F.lit(span)), F.lit(0)),
            F.least(F.floor((F.col("maxx") - F.lit(minx))
                            / F.lit(span)), F.lit(ntx - 1)),
        )).alias("tx"),
        F.col("miny").alias("by0"), F.col("maxy").alias("by1"),
    ).select(
        "fid", "wkb", "bv", "zs", "tx",
        F.explode(F.sequence(
            F.greatest(F.floor((F.lit(maxy) - F.col("by1")) / F.lit(span)),
                       F.lit(0)),
            F.least(F.floor((F.lit(maxy) - F.col("by0")) / F.lit(span)),
                    F.lit(nty - 1)),
        )).alias("ty"),
    ).where(F.col("tx").isNotNull() & F.col("ty").isNotNull())

    def burn_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        gx = minx + tx * span
        gy = maxy - ty * span
        gt = [gx, cell, 0.0, gy, 0.0, -cell]
        tw = min(tile_px, nx - tx * tile_px)
        th = min(tile_px, ny - ty * tile_px)
        out = np.zeros((th, tw), dtype=np.float64)
        for r in pdf.sort_values("fid").itertuples(index=False):
            kind, d = G.parse_wkb(bytes(r.wkb))
            if kind in ("point", "multipoint"):
                # gvBurnPoint: the pixel containing each point
                pts = (np.asarray(d, dtype=np.float64).reshape(1, 2)
                       if kind == "point"
                       else np.asarray(d, dtype=np.float64).reshape(-1, 2))
                cx = np.floor((pts[:, 0] - gt[0]) / gt[1]).astype(int)
                cy = np.floor((pts[:, 1] - gt[3]) / gt[5]).astype(int)
                ok = (cx >= 0) & (cx < tw) & (cy >= 0) & (cy < th)
                if add:
                    np.add.at(out, (cy[ok], cx[ok]), float(r.bv))
                else:
                    out[cy[ok], cx[ok]] = float(r.bv)
                continue
            if kind in ("linestring", "multilinestring"):
                # GDALdllImageLine path: Bresenham (or all_touched
                # traversal) along the polyline, no fill
                parts = [d] if kind == "linestring" else d
                rasterize_lines(parts, gt, tw, th, burn=float(r.bv),
                                out=out, add=add, all_touched=all_touched)
                continue
            rings = (d if kind == "polygon"
                     else [ring for part in d for ring in part])
            rz = None
            if r.zs is not None:
                flat = np.asarray(r.zs, dtype=np.float64)
                rz, off = [], 0
                for ring in rings:
                    n = len(ring)
                    rz.append(flat[off : off + n])
                    off += n
            rasterize_rings(rings, gt, tw, th, burn=float(r.bv), out=out,
                            add=add, all_touched=all_touched, rings_z=rz)
        py, px = np.nonzero(out)
        return pd.DataFrame({
            "px": px + tx * tile_px, "py": py + ty * tile_px,
            "v": out[py, px],
        })

    if not inverse:
        return feats.groupBy("tx", "ty").applyInPandas(
            burn_tile, schema="px long, py long, v double"
        )

    if attribute is not None or z_col is not None:
        raise ValueError("inverse rasterization burns a constant "
                         "(reference -i merges all geometries)")
    extent_ring = np.array(
        [[minx, maxy], [minx + nx * float(cell), maxy],
         [minx + nx * float(cell), maxy - ny * float(cell)],
         [minx, maxy - ny * float(cell)], [minx, maxy]], dtype=np.float64)

    def burn_tile_inv(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        gx = minx + tx * span
        gy = maxy - ty * span
        gt = [gx, cell, 0.0, gy, 0.0, -cell]
        tw = min(tile_px, nx - tx * tile_px)
        th = min(tile_px, ny - ty * tile_px)
        rings = [extent_ring]
        for r in pdf.sort_values("fid").itertuples(index=False):
            if r.wkb is None:
                continue
            kind, d = G.parse_wkb(bytes(r.wkb))
            rings.extend(d if kind == "polygon"
                         else [ring for part in d for ring in part])
        out = rasterize_rings(rings, gt, tw, th, burn=float(burn),
                              add=add, all_touched=all_touched)
        py, px = np.nonzero(out)
        return pd.DataFrame({
            "px": px + tx * tile_px, "py": py + ty * tile_px,
            "v": out[py, px],
        })

    # every tile appears in the output (empty tiles burn fully), so the
    # feature rows left-join onto the full tile grid
    grid = polys.sparkSession.range(ntx * nty).select(
        (F.col("id") % ntx).cast("long").alias("tx"),
        (F.col("id") / ntx).cast("long").alias("ty"),
    )
    feats_t = feats.withColumn("tx", F.col("tx").cast("long")) \
                   .withColumn("ty", F.col("ty").cast("long"))
    joined = grid.join(feats_t, ["tx", "ty"], "left")
    return joined.groupBy("tx", "ty").applyInPandas(
        burn_tile_inv, schema="px long, py long, v double"
    )


def rasterize_point_counts(points: DataFrame, minx: float, maxy: float,
                           cell: float, nx: int, ny: int,
                           x: str = "x", y: str = "y") -> DataFrame:
    """gdal_rasterize point burn in ADD mode == point-count grid. Pure
    column math + groupBy (no UDF): the scalable burn for point layers.
    Output (px, py, n) for non-empty pixels; py from the top row."""
    from pyspark.sql import functions as F

    return (
        points.select(
            F.floor((F.col(x) - F.lit(minx)) / F.lit(cell)).cast("long").alias("px"),
            F.floor((F.lit(maxy) - F.col(y)) / F.lit(cell)).cast("long").alias("py"),
        )
        .where((F.col("px") >= 0) & (F.col("px") < nx)
               & (F.col("py") >= 0) & (F.col("py") < ny))
        .groupBy("px", "py")
        .count()
        .withColumnRenamed("count", "n")
    )


def raster_as_features(images, geometry: str = "polygon",
                       skip_nodata: float | None = None):
    """gdal raster as-features (apps/gdalalg_raster_as_features.cpp):
    one feature per pixel with geometry none/point/polygon (pixel-center
    point or pixel-box ring in the image's 3857 grid) and per-band
    BAND_n values as an array column.

    Map-only: the per-pixel explode and the WKB build happen inside one
    Arrow pass (the WKB is packed for all pixels of an image at once)."""
    from ..oracle.tiling import geotransform_3857

    if geometry not in ("none", "point", "polygon"):
        raise ValueError(f"bad geometry type {geometry!r}")

    def per_image(a, r):
        if a.ndim == 2:
            a = a[:, :, None]
        h, w, nb = a.shape
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
        cc, rr = np.meshgrid(np.arange(w), np.arange(h))
        cc, rr = cc.ravel(), rr.ravel()
        vals = a.reshape(-1, nb).astype(np.float64)
        if skip_nodata is not None:
            keep = vals[:, 0] != skip_nodata
            cc, rr, vals = cc[keep], rr[keep], vals[keep]
        if geometry == "point":
            xg = gt[0] + (cc + 0.5) * gt[1]
            yg = gt[3] + (rr + 0.5) * gt[5]
            wkbs = _point_wkb_batch(xg, yg)
        elif geometry == "polygon":
            x0 = gt[0] + cc * gt[1]
            y0 = gt[3] + rr * gt[5]
            wkbs = _pixel_box_wkb_batch(x0, y0, gt[1], gt[5])
        else:
            wkbs = [None] * len(cc)
        yield from zip([r.image_id] * len(cc), cc.astype(np.int32),
                       rr.astype(np.int32), wkbs, vals)

    return map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, px int, py int, wkb binary, bands array<double>",
        per_image)


def _point_wkb_batch(xs, ys):
    """Vectorized little-endian WKB POINT packing: one (n, 21) uint8
    buffer, no per-row Python (the batch form round-2/3 reviews asked
    for)."""
    import numpy as np

    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1                       # little-endian
    buf[:, 1:5] = np.frombuffer(np.uint32(1).tobytes(), np.uint8)  # Point
    buf[:, 5:13] = np.asarray(xs, "<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(ys, "<f8").view(np.uint8).reshape(n, 8)
    return [b.tobytes() for b in buf]


def _pixel_box_wkb_batch(x0, y0, dx, dy):
    """Vectorized WKB POLYGON packing for axis-aligned pixel boxes: fixed
    93-byte layout (header + 1 ring + 5 points), all coordinates written
    with one strided view."""
    import numpy as np

    n = len(x0)
    x0 = np.asarray(x0, "<f8")
    y0 = np.asarray(y0, "<f8")
    x1, y1 = x0 + dx, y0 + dy
    buf = np.empty((n, 93), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.frombuffer(np.uint32(3).tobytes(), np.uint8)  # Polygon
    buf[:, 5:9] = np.frombuffer(np.uint32(1).tobytes(), np.uint8)  # 1 ring
    buf[:, 9:13] = np.frombuffer(np.uint32(5).tobytes(), np.uint8)  # 5 pts
    coords = np.empty((n, 10), dtype="<f8")
    coords[:, 0::2] = np.column_stack([x0, x1, x1, x0, x0])
    coords[:, 1::2] = np.column_stack([y0, y0, y1, y1, y0])
    buf[:, 13:] = coords.view(np.uint8).reshape(n, 80)
    return [b.tobytes() for b in buf]
