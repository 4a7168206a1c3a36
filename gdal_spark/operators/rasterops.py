"""Raster operators over the image table — gdal_translate / gdalwarp /
gdaldem / gdal_footprint / zonal-stats / InterpolateAtPoint analogues.

Every operator that reads pixels runs through the one per-image loop,
``imagemap.map_images`` (map-only, Arrow batches, numpy kernels): at 10^12
images the work is embarrassingly parallel with zero shuffle;
aggregation-style ops (zonal stats, mosaic) emit per-image PARTIALS and
merge with one groupBy — the map-side-combine shape. Four keep their own
loop: ``sample_at_points`` (groups joined points per image),
``raster_compare`` (two blobs, no decode when the bytes are equal),
``raster_to_xyz`` (one per-pixel frame per image) and ``dataset_check``
(the decode error is its output).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..codecs.registry import decode, encode, palette
from ..fixtures.tile_grid import wkb_polygon
from ..oracle import dem as DEM
from ..oracle import mercator as M
from ..oracle.checksum import checksum_image
from ..oracle.resample import resample_nearest
from ..oracle.tiling import geotransform_3857
from ..oracle.warp import warp_3857_to_4326
from .imagemap import map_images


def _resample_any(a, out_h, out_w, method: str):
    """-r dispatch for translate -outsize (gdal_translate_lib.cpp -r +
    rasterio resampling table): nearest/bilinear vectorize over (H, W, C)
    directly; the convolution/box kernels run per band."""
    from ..oracle.resample import (_round_int, resample_average,
                                   resample_convolve, resample_mode,
                                   resample_stat)

    if method == "nearest":
        return resample_nearest(a, out_h, out_w)
    if method == "bilinear":
        from ..oracle.resample import resample_bilinear

        return resample_bilinear(a, out_h, out_w)
    a = np.asarray(a)
    bands = [a] if a.ndim == 2 else [a[:, :, i] for i in range(a.shape[2])]
    if method in ("cubic", "cubicspline", "lanczos"):
        done = [_round_int(resample_convolve(b.astype(np.float64), out_h,
                                             out_w, method), a.dtype)
                for b in bands]
    elif method == "average":
        done = [resample_average(b, out_h, out_w) for b in bands]
    elif method == "mode":
        done = [resample_mode(b, out_h, out_w) for b in bands]
    elif method == "rms":
        done = [resample_stat(b, out_h, out_w, "rms") for b in bands]
    else:
        raise ValueError(f"unknown -r method: {method}")
    return done[0] if a.ndim == 2 else np.stack(done, axis=2)


def translate(images: DataFrame, srcwin=None, outsize=None, scale=None,
              bands=None, ot: str | None = None, projwin=None,
              expand: str | None = None, r: str = "nearest") -> DataFrame:
    """gdal_translate semantics (apps/gdal_translate_lib.cpp:90-313):
    -srcwin (x, y, w, h) subset, -projwin (ulx, uly, lrx, lry) georeferenced
    window in EPSG:3857 resolved per image through its geotransform with the
    reference's exact floor(+0.001)/ceil(-0.001) pixel snapping
    (gdal_translate_lib.cpp:981-1000), -outsize (w, h) resize (nearest, the
    RasterIO default), -scale (src_min, src_max, dst_min, dst_max) linear
    rescale, -b band selection (1-based list), -expand rgb|gray (single-band
    replication, the palette-expansion analogue), -ot type cast.
    Emits re-encoded PNG rows + band-1 checksum."""

    def per_image(a, row):
        if projwin is not None:
            ulx, uly, lrx, lry = projwin
            gt = geotransform_3857(
                row.lon, row.lat, a.shape[1], a.shape[0], row.gsd_m
            )
            xo = int(np.floor((ulx - gt[0]) / gt[1] + 0.001))
            yo = int(np.floor((uly - gt[3]) / gt[5] + 0.001))
            # Size from the SNAPPED ULX/ULY, not the requested one
            # (gdal_translate_lib.cpp:981-1000: ceil((lrx - adfGeoTransform
            # [0] - xo*xres)/xres - 0.001)); keeping the raw ulx here
            # gave a possible off-by-one.
            xs = int(np.ceil((lrx - (gt[0] + xo * gt[1])) / gt[1] - 0.001))
            ys = int(np.ceil((lry - (gt[3] + yo * gt[5])) / gt[5] - 0.001))
            # Out-of-bounds: intersect the computed window with the
            # raster extent explicitly (w2/h2 reflect the clipped
            # window) instead of silently shifting the origin; skip
            # rows whose window falls completely outside
            # (gdal_translate_lib.cpp "falls completely outside").
            x0, y0 = max(0, xo), max(0, yo)
            x1 = min(xo + max(xs, 0), a.shape[1])
            y1 = min(yo + max(ys, 0), a.shape[0])
            if x1 <= x0 or y1 <= y0:
                return
            a = a[y0:y1, x0:x1]
        if srcwin is not None:
            x, y, ww, hh = srcwin
            a = a[y : y + hh, x : x + ww]
        if bands is not None:
            a = a[:, :, [b - 1 for b in bands]]
            if a.shape[2] == 1:
                a = a[:, :, 0]
        if expand in ("rgb", "rgba") and a.ndim == 2:
            # -expand rgb|rgba (gdal_translate_lib.cpp): a 1-band
            # paletted raster expands through its color table; a
            # plain gray band replicates (grayscale identity PCT)
            pal = palette(row.bytes)
            if pal is not None:
                a = pal[a]
            else:
                a = np.stack([a, a, a], axis=2)
            if expand == "rgba":
                alpha = np.full(a.shape[:2] + (1,), 255, np.uint8)
                a = np.concatenate([a, alpha], axis=2)
        elif expand == "gray" and a.ndim == 2:
            # gray expansion of a paletted band takes the table's
            # c1 component (reference requires a gray table)
            pal = palette(row.bytes)
            if pal is not None:
                a = pal[a][:, :, 0]
        elif expand == "gray" and a.ndim == 3:
            a = a.mean(axis=2)
            a = np.clip(np.floor(a + 0.5), 0, 255).astype(np.uint8)
        if outsize is not None:
            a = _resample_any(a, outsize[1], outsize[0], r)
        if scale is not None:
            s0, s1, d0, d1 = scale
            af = a.astype(np.float64)
            af = (af - s0) / (s1 - s0) * (d1 - d0) + d0
            a = np.clip(np.floor(af + 0.5), 0, 255).astype(np.uint8)
        if ot is not None:
            a = a.astype(ot)
        h2, w2 = a.shape[0], a.shape[1]
        cs = checksum_image(a)
        enc = encode(a.astype(np.uint8) if a.dtype != np.uint8 else a, "png")
        yield dict(image_id=row.image_id, w2=int(w2), h2=int(h2),
                   bytes=enc, cs1=cs[0])

    cols = (["image_id", "bytes", "lon", "lat", "gsd_m"]
            if projwin is not None else ["image_id", "bytes"])
    return map_images(
        images, cols,
        "image_id string, w2 int, h2 int, bytes binary, cs1 long", per_image)


def warp_to_wgs84(images: DataFrame, method: str = "nearest",
                  approx_every: int = 0, src_nodata=None, dst_nodata=None,
                  collar_px: int = 0,
                  cutline_col: str | None = None,
                  te=None, tr=None, ts=None, blend_dist=0.0) -> DataFrame:
    """gdalwarp EPSG:3857 -> EPSG:4326 per image (dst->src inverse mapping,
    apps/gdalwarp_lib.cpp:1210; kernel alg/gdalwarpkernel.cpp). Accepts all
    14 warp kernels (alg/gdalwarper.h:37-67): the 5 point kernels
    near/bilinear/cubic/cubicspline/lanczos plus the box statistics
    average/mode/min/max/med/q1/q3/sum/rms (GWKAverageOrModeThread path).
    Returns warped image rows + dst geotransform + checksum.

    ``src_nodata``/``dst_nodata`` enable the reference's validity-mask
    semantics (-srcnodata/-dstnodata, alg/gdalwarpkernel.cpp:614 "Masking
    Semantics"): invalid pixels never contribute to any kernel and
    uncovered destinations get dst_nodata.  ``collar_px`` paints an
    n-pixel src_nodata border after decode — the synthetic nodata-collar
    fixture shape of the reference's autotest warp nodata cases (real
    imagery almost always carries such collars).  ``cutline_col`` names a
    per-row WKB polygon column (source CRS coords): the cutline is
    rasterized into the source validity mask exactly like
    gdalwarp -cutline (apps/gdalwarp_lib.cpp:5236); ``blend_dist`` > 0
    feathers it instead of hard-masking (CUTLINE_BLEND_DIST,
    alg/gdalcutline.cpp BlendMaskGenerator: density ramps 0.5 +- d/(2*BD)
    over the boundary band, output = src * density).  ``te``/``tr``/``ts``
    fix the target extent (lon/lat), resolution, or size instead of the
    SuggestedWarpOutput grid (the -te/-tr/-ts options)."""
    from ..oracle import geom as G

    def per_image(a, r):
        if collar_px and src_nodata is not None:
            c = int(collar_px)
            a = a.copy()
            a[:c, :] = src_nodata
            a[-c:, :] = src_nodata
            a[:, :c] = src_nodata
            a[:, -c:] = src_nodata
        cut = None
        if cutline_col is not None:
            kind, data = G.parse_wkb(bytes(getattr(r, cutline_col)))
            cut = (data if kind == "polygon"
                   else [ring for part in data for ring in part])
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        warped, dst_gt = warp_3857_to_4326(
            a, gt, method=method, approx_every=approx_every,
            src_nodata=src_nodata, dst_nodata=dst_nodata,
            cutline=cut, te=te, tr=tr, ts=ts,
            blend_dist=blend_dist,
        )
        cs = checksum_image(warped)
        yield dict(
            image_id=r.image_id,
            bytes=encode(warped, "png"),
            dst_gt=[float(v) for v in dst_gt],
            cs1=cs[0], cs2=cs[1], cs3=cs[2],
        )

    cols = ["image_id", "bytes", "lon", "lat", "gsd_m"]
    if cutline_col is not None:
        cols.append(cutline_col)
    return map_images(
        images, cols,
        "image_id string, bytes binary, dst_gt array<double>, cs1 long, "
        "cs2 long, cs3 long", per_image)


def warp_utm(images: DataFrame, method: str = "nearest") -> DataFrame:
    """gdalwarp UTM -> EPSG:4326 per image — the reference's benchmark
    workload shape (autotest/benchmark/test_gdalwarp.py:24, EPSG:32631).
    Each image is georeferenced in the UTM zone of its center longitude
    (gsd_m read as UTM meters); the Krüger closed-form transform
    (oracle/utm.py) drives the full non-separable dst->src warp.  All 14
    warp kernels are accepted — box statistics use the corner-grid box
    construction (gdalwarpkernel.cpp:7841)."""
    from ..oracle import utm as U
    from ..oracle.warp import warp_utm_to_4326

    def per_image(a, r):
        h, w = a.shape[0], a.shape[1]
        zone = U.utm_zone_for_lon(float(r.lon))
        south = float(r.lat) < 0
        e0, n0 = U.lonlat_to_utm(float(r.lon), float(r.lat), zone, south)
        gt = [float(e0) - w / 2.0 * r.gsd_m, float(r.gsd_m), 0.0,
              float(n0) + h / 2.0 * r.gsd_m, 0.0, -float(r.gsd_m)]
        warped, dst_gt = warp_utm_to_4326(a, gt, zone, method, south)
        cs = checksum_image(warped)
        yield dict(
            image_id=r.image_id, zone=int(zone),
            cs1=cs[0], cs2=cs[1], cs3=cs[2],
        )

    return map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, zone int, cs1 long, cs2 long, cs3 long", per_image)


def pansharpen(images: DataFrame, weights=None, ratio: int = 4) -> DataFrame:
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp:592-635
    WeightedBrovey3): pseudo-pan = Σ wᵢ·upsampled_specᵢ; factor =
    pan / pseudo-pan (0 when pseudo-pan is 0); out band = spec·factor,
    rounded and clipped per GDALCopyWord.

    Demo pipeline per image (the table has no separate pan asset): the
    'multispectral' input is the image average-downsampled by ``ratio``,
    the 'panchromatic' is the full-res band mean; spectral is bilinearly
    upsampled back and fused — output approximates the original, and the
    emitted PSNR quantifies how much pan detail the fusion recovers."""
    from ..oracle.resample import psnr, resample_average, resample_bilinear

    def per_image(a, r):
        h, w, nb = a.shape[0], a.shape[1], a.shape[2]
        wts = np.asarray(
            weights if weights is not None else [1.0 / nb] * nb
        )
        pan = a.astype(np.float64).mean(axis=2)
        spec_lo = resample_average(a, max(1, h // ratio), max(1, w // ratio))
        spec_up = resample_bilinear(spec_lo, h, w).astype(np.float64)
        pseudo = (spec_up * wts[None, None, :]).sum(axis=2)
        factor = np.where(pseudo != 0.0, pan / np.where(pseudo == 0, 1, pseudo), 0.0)
        fused = np.clip(
            np.floor(spec_up * factor[:, :, None] + 0.5), 0, 255
        ).astype(np.uint8)
        cs = checksum_image(fused)
        yield dict(
            image_id=r.image_id, cs1=cs[0], cs2=cs[1], cs3=cs[2],
            psnr_vs_src=float(np.round(min(psnr(fused, a), 999.0), 2)),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, cs1 long, cs2 long, cs3 long, psnr_vs_src double",
        per_image)


def dem_metrics(images: DataFrame, operation: str = "hillshade",
                z_factor: float = 1.0, azimuth: float = 315.0,
                altitude: float = 45.0, color_mode: str = "interpolate",
                variant: str = "regular", alg: str = "horn") -> DataFrame:
    """gdaldem over band 1 treated as elevation (apps/gdaldem_lib.cpp
    3x3 kernels). operation in hillshade|slope|aspect|tri|tpi|roughness.
    ``alg`` selects Horn or ZevenbergenThorne gradients (-alg, :1390);
    ``variant`` selects the hillshade shading: regular, combined (:1151),
    multidirectional (:1255 USGS weights), igor (:947).
    Emits per-image result checksum + summary stats."""

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        res = float(r.gsd_m)
        if operation == "hillshade":
            if variant == "regular" and alg == "horn":
                v = DEM.hillshade(a, res, res, z_factor, azimuth,
                                  altitude)
            else:
                v = DEM.hillshade_variant(a, res, res, z_factor,
                                          azimuth, altitude,
                                          variant, alg)
        elif operation == "slope":
            v = (DEM.slope_degrees_zt(a, res, res, z_factor)
                 if alg == "zt"
                 else DEM.slope_degrees(a, res, res, z_factor))
        elif operation == "aspect":
            v = (DEM.aspect_degrees_zt(a, res, res) if alg == "zt"
                 else DEM.aspect_degrees(a, res, res))
        elif operation == "tri":
            v = DEM.tri(a)
        elif operation == "tpi":
            v = DEM.tpi(a)
        elif operation == "roughness":
            v = DEM.roughness(a)
        elif operation == "color-relief":
            # gdaldem color-relief (apps/gdaldem_lib.cpp
            # GDALColorReliefProcess), shared with the pipeline
            # color-map step
            v = DEM.color_relief_rgb(a, color_mode)
        else:
            raise ValueError(operation)
        yield dict(
            image_id=r.image_id,
            cs=checksum_image(np.asarray(v))[0],
            vmin=float(np.round(np.min(v), 4)),
            vmax=float(np.round(np.max(v), 4)),
            vmean=float(np.round(np.mean(v), 4)),
        )

    return map_images(
        images, ["image_id", "bytes", "gsd_m"],
        "image_id string, cs long, vmin double, vmax double, vmean double",
        per_image)


def _pixel_func(expr: str, a: np.ndarray, k: float | None) -> np.ndarray:
    """One VRT pixel function over a decoded (h, w, nb) float64 stack.

    Real-valued subset of frmts/vrt/pixelfunctions.cpp:4313-4441 —
    two-band: norm_diff/diff/div/interpolate_linear/interpolate_exp;
    n-band: sum/mul/mean/min/max/median/mode/geometric_mean/harmonic_mean;
    band-1 unary: sqrt/log10/dB/dB2amp/dB2pow/exp/pow/inv/intensity/mod/
    scale/replace_nodata.  Complex-only functions (real/imag/phase/conj/
    cmul/polar) are the real-data degenerate identities GDAL applies to
    real rasters: real==identity, imag==0, phase==0|pi, conj==identity,
    mod==abs."""
    b1 = a[:, :, 0]
    b2 = a[:, :, 1] if a.shape[2] > 1 else b1
    if expr == "norm_diff":
        return (b1 - b2) / np.maximum(b1 + b2, 1e-9)
    if expr == "diff":
        return b1 - b2
    if expr == "div":
        # pixelfunctions.cpp DivPixelFunc: out = b1/b2, 0 where b2 == 0
        return np.where(b2 == 0, 0.0, b1 / np.where(b2 == 0, 1.0, b2))
    if expr == "interpolate_linear":
        t = 0.5 if k is None else k
        return b1 + (b2 - b1) * t
    if expr == "interpolate_exp":
        t = 0.5 if k is None else k
        return np.exp(np.log(np.maximum(b1, 1e-9))
                      + (np.log(np.maximum(b2, 1e-9))
                         - np.log(np.maximum(b1, 1e-9))) * t)
    if expr == "sum":
        return a.sum(axis=2) + (k or 0.0)
    if expr == "mul":
        return a.prod(axis=2)
    if expr == "mean":
        return a.mean(axis=2)
    if expr == "min":
        return a.min(axis=2)
    if expr == "max":
        return a.max(axis=2)
    if expr == "median":
        return np.median(a, axis=2)
    if expr == "mode":
        # per-pixel most frequent band value, lowest wins ties (uint8 data)
        h, w, nb = a.shape
        flat = a.reshape(-1, nb).astype(np.int64)
        counts = np.zeros((flat.shape[0], 256), dtype=np.int16)
        rows = np.arange(flat.shape[0])
        for j in range(nb):
            np.add.at(counts, (rows, flat[:, j]), 1)
        return counts.argmax(axis=1).astype(np.float64).reshape(h, w)
    if expr == "geometric_mean":
        return np.exp(np.log(np.maximum(a, 1e-9)).mean(axis=2))
    if expr == "harmonic_mean":
        return a.shape[2] / (1.0 / np.maximum(a, 1e-9)).sum(axis=2)
    if expr == "sqrt":
        return np.sqrt(b1)
    if expr == "log10":
        return np.log10(np.maximum(b1, 1e-9))
    if expr == "dB":
        return 20.0 * np.log10(np.maximum(b1, 1e-9))
    if expr == "dB2amp":
        return np.power(10.0, b1 / 20.0)
    if expr == "dB2pow":
        return np.power(10.0, b1 / 10.0)
    if expr == "exp":
        return np.exp(b1 * (k if k is not None else 1.0))
    if expr == "pow":
        return np.power(b1, k if k is not None else 2.0)
    if expr == "inv":
        return (k if k is not None else 1.0) / np.where(b1 == 0, 1e-9, b1)
    if expr == "intensity":
        return b1 * b1
    if expr in ("mod", "real", "conj"):
        return np.abs(b1) if expr == "mod" else b1
    if expr == "imag":
        return np.zeros_like(b1)
    if expr == "phase":
        return np.where(b1 < 0, np.pi, 0.0)
    if expr == "scale":
        off = 0.0 if k is None else k
        return b1 * 1.0 + off
    if expr == "replace_nodata":
        return np.where(b1 == (k if k is not None else 0.0), np.nan, b1)
    raise ValueError(f"unknown pixel function {expr!r}")


PIXEL_FUNCTIONS = (
    "norm_diff diff div interpolate_linear interpolate_exp sum mul mean min "
    "max median mode geometric_mean harmonic_mean sqrt log10 dB dB2amp "
    "dB2pow exp pow inv intensity mod real imag phase conj scale "
    "replace_nodata".split()
)


def band_calc(images: DataFrame, expr: str = "norm_diff",
              k: float | None = None) -> DataFrame:
    """Raster algebra / VRT pixel functions
    (frmts/vrt/pixelfunctions.cpp:4313-4441): the full real-valued set in
    ``PIXEL_FUNCTIONS`` (two-band, n-band and unary forms; ``k`` is the
    constant argument for pow/exp/inv/sum/scale/interpolate/*nodata);
    per-image min/max/mean stats out, NaNs excluded like GDAL's
    stats-over-masked-pixels."""

    def per_image(a, r):
        a = a.astype(np.float64)
        if a.ndim == 2:
            a = a[:, :, None]
        v = _pixel_func(expr, a, k)
        vv = v[~np.isnan(v)]
        if vv.size == 0:
            vv = np.zeros(1)
        yield dict(
            image_id=r.image_id,
            vmin=float(np.round(vv.min(), 6)),
            vmax=float(np.round(vv.max(), 6)),
            vmean=float(np.round(vv.mean(), 6)),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, vmin double, vmax double, vmean double", per_image)


def footprint(images: DataFrame, threshold: int = 0, mode: str = "traced",
              trace_max: int = 64) -> DataFrame:
    """gdal_footprint (apps/gdal_footprint_lib.cpp:1304): polygon of the
    valid-data mask (> threshold in band 1) + valid-pixel count.

    ``mode='traced'`` (reference parity): the mask is POLYGONIZED — boundary
    rings traced with the GDALPolygonize ring chainer (oracle/rasterize.
    trace_rings), holes included, multiple components emitted as a
    MultiPolygon; ``mode='bbox'`` keeps the round-1 envelope ring. Masks
    larger than ``trace_max`` are traced on a nearest-decimated grid — the
    reference's ``-ovr`` option reads an overview level for exactly this
    (apps/gdal_footprint_lib.cpp \"ovr\" handling); n_valid stays full-res.
    """
    from ..oracle import geom as G
    from ..oracle.rasterize import label_components, trace_rings

    def _trace_mask(mask, gt):
        """mask (possibly decimated) + matching geotransform -> (kind, data)."""
        labels, ncomp = label_components(mask.astype(np.uint8))
        polys = []
        for lbl in range(1, ncomp + 1):
            sel = labels == lbl
            if not mask[sel][0]:
                continue  # background component (label_components labels 0s too)
            rings_px = trace_rings(sel)
            if not rings_px:
                continue
            areas = [abs(G._ring_signed_area(rg)) for rg in rings_px]
            order = np.argsort(areas)[::-1]  # outer (largest) first
            rings = []
            for k in order:
                rg = rings_px[k]
                xs = gt[0] + rg[:, 0] * gt[1]
                ys = gt[3] + rg[:, 1] * gt[5]
                rings.append(np.column_stack([xs, ys]))
            polys.append(rings)
        if len(polys) == 1:
            return "polygon", polys[0]
        return "multipolygon", polys

    def per_image(a, r):
        mask = a[:, :, 0] > threshold
        n = int(mask.sum())
        h, w = mask.shape
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
        if n == 0:
            yield dict(image_id=r.image_id, n_valid=0, wkb=None,
                       area_m2=0.0, n_rings=0)
            return
        if mode == "bbox":
            ys, xs = np.nonzero(mask)
            x0, x1 = xs.min(), xs.max() + 1
            y0, y1 = ys.min(), ys.max() + 1
            minx, maxx = gt[0] + x0 * gt[1], gt[0] + x1 * gt[1]
            maxy, miny = gt[3] + y0 * gt[5], gt[3] + y1 * gt[5]
            yield dict(
                image_id=r.image_id, n_valid=n,
                wkb=wkb_polygon([(minx, miny), (maxx, miny),
                                 (maxx, maxy), (minx, maxy),
                                 (minx, miny)]),
                area_m2=float((maxx - minx) * (maxy - miny)),
                n_rings=1,
            )
            return
        if h > trace_max or w > trace_max:
            dh, dw = min(h, trace_max), min(w, trace_max)
            tmask = resample_nearest(mask.astype(np.uint8), dh, dw) > 0
            tgt = [gt[0], gt[1] * w / dw, 0.0, gt[3], 0.0, gt[5] * h / dh]
        else:
            tmask, tgt = mask, gt
        kind, data = _trace_mask(tmask, tgt)
        g = (kind, data)
        yield dict(
            image_id=r.image_id, n_valid=n,
            wkb=G.to_wkb(kind, data),
            area_m2=float(G.area(g)),
            n_rings=int(sum(len(p) for p in data)
                        if kind == "multipolygon" else len(data)),
        )

    return map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, n_valid long, wkb binary, area_m2 double, "
        "n_rings int", per_image)


def zonal_stats(images: DataFrame, zone_zoom: int = 9) -> DataFrame:
    """Zonal statistics (alg/zonal.cpp:361 GDALRasterZonalStats): band-1
    pixels grouped by the mercator tile cell containing each pixel center.
    Stats per apps/gdalalg_raster_zonal_stats.cpp:67-73: count, mean, stdev,
    min, max, plus the order statistics median / mode / minority / variety.

    Two-phase: per-image partial (count/sum/sumsq/min/max AND a 256-bin
    histogram per zone — band values are uint8, so the histogram is a
    LOSSLESS sufficient statistic for every order stat), then one
    groupBy(zone) merge: scalar partials sum natively; histograms sum
    element-wise JVM-side (``aggregate``/``zip_with``); the final
    median/mode/minority/variety read the merged histogram in a tiny
    factorizable UDF over one row per zone. No per-pixel rows ever shuffle."""

    def per_image(a8, r):
        a8 = a8[:, :, 0]
        a = a8.astype(np.float64)
        h, w = a.shape
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
        # pixel-center mercator coords
        mx = gt[0] + (np.arange(w) + 0.5) * gt[1]
        my = gt[3] + (np.arange(h) + 0.5) * gt[5]
        tx, _ = M.pixels_to_tile(*M.meters_to_pixels(mx, np.zeros(w), zone_zoom))
        _, ty = M.pixels_to_tile(*M.meters_to_pixels(np.zeros(h), my, zone_zoom))
        n = 2**zone_zoom - 1
        tx = np.clip(tx, 0, n)
        ty = np.clip(ty, 0, n)
        zone = (tx[None, :] << 32) | ty[:, None]
        flat_zone = zone.ravel()
        flat_val = a.ravel()
        uniq, inv = np.unique(flat_zone, return_inverse=True)
        cnt = np.bincount(inv)
        s = np.bincount(inv, weights=flat_val)
        s2 = np.bincount(inv, weights=flat_val * flat_val)
        vmin = np.full(uniq.size, np.inf)
        np.minimum.at(vmin, inv, flat_val)
        vmax = np.full(uniq.size, -np.inf)
        np.maximum.at(vmax, inv, flat_val)
        # per-zone 256-bin histogram in one bincount over a fused key
        fused = inv.astype(np.int64) * 256 + a8.ravel()
        hist = np.bincount(fused, minlength=uniq.size * 256).reshape(
            uniq.size, 256
        )
        for j, z in enumerate(uniq):
            yield dict(zone=int(z), cnt=int(cnt[j]), s=float(s[j]),
                       s2=float(s2[j]), vmin=float(vmin[j]),
                       vmax=float(vmax[j]), hist=hist[j].tolist())

    part = map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "zone long, cnt long, s double, s2 double, vmin double, vmax double, "
        "hist array<long>", per_image)
    agg = part.groupBy("zone").agg(
        F.sum("cnt").alias("pixel_count"),
        F.sum("s").alias("_s"),
        F.sum("s2").alias("_s2"),
        F.min("vmin").alias("zmin"),
        F.max("vmax").alias("zmax"),
        F.aggregate(
            F.collect_list("hist"),
            F.array_repeat(F.lit(0).cast("long"), 256),
            lambda acc, hh: F.zip_with(acc, hh, lambda x, y: x + y),
        ).alias("_hist"),
    )

    @F.pandas_udf("median double, mode int, minority int, variety int")
    def order_stats(hists: pd.Series) -> pd.DataFrame:
        rows = []
        for hl in hists:
            hist = np.asarray(hl, dtype=np.int64)
            total = int(hist.sum())
            csum = np.cumsum(hist)
            # true median (average of the two middles for even counts)
            lo_idx = int(np.searchsorted(csum, (total + 1) // 2))
            hi_idx = int(np.searchsorted(csum, total // 2 + 1))
            median = (lo_idx + hi_idx) / 2.0
            present = np.nonzero(hist)[0]
            mode = int(present[np.argmax(hist[present])])  # ties -> smallest
            minority = int(present[np.argmin(hist[present])])
            rows.append((median, mode, minority, int(present.size)))
        return pd.DataFrame(
            rows, columns=["median", "mode", "minority", "variety"]
        )

    mean = F.col("_s") / F.col("pixel_count")
    var = F.col("_s2") / F.col("pixel_count") - mean * mean
    return agg.withColumn("_os", order_stats("_hist")).select(
        "zone", "pixel_count",
        F.round(mean, 4).alias("zmean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 4).alias("zstd"),
        "zmin", "zmax",
        F.col("_os.median").alias("zmedian"),
        F.col("_os.mode").alias("zmode"),
        F.col("_os.minority").alias("zminority"),
        F.col("_os.variety").alias("zvariety"),
    )


def sample_at_points(images: DataFrame, points: DataFrame,
                     method: str = "bilinear") -> DataFrame:
    """InterpolateAtPoint (gcore/gdalrasterband.cpp:11497,
    alg/gdal_interpolateatpoint.cpp:165): sample band values at fractional
    pixel positions of per-image points. Join on image_id ships each image's
    bytes to its points' partition; sampling is vectorized per image."""
    joined = points.join(
        images.select("image_id", "bytes", "lon", "lat", "gsd_m", "w", "h"),
        "image_id",
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for img_id, grp in pdf.groupby("image_id", sort=False):
                r0 = grp.iloc[0]
                a = decode(r0["bytes"]).astype(np.float64)
                gt = geotransform_3857(
                    r0["lon"], r0["lat"], int(r0["w"]), int(r0["h"]), r0["gsd_m"]
                )
                pmx, pmy = M.lonlat_to_meters(
                    grp["plon"].to_numpy(), grp["plat"].to_numpy()
                )
                fx = (pmx - gt[0]) / gt[1]
                fy = (pmy - gt[3]) / gt[5]
                hh, ww = a.shape[0], a.shape[1]
                inside = (fx >= 0) & (fx < ww) & (fy >= 0) & (fy < hh)
                if method == "nearest":
                    ix = np.clip(np.floor(fx).astype(int), 0, ww - 1)
                    iy = np.clip(np.floor(fy).astype(int), 0, hh - 1)
                    val = a[iy, ix, 0]
                elif method == "cubic":
                    # 4x4 Catmull-Rom at the fractional position
                    # (alg/gdal_interpolateatpoint.cpp:415 GDALInterpExtract
                    # cubic path; kernel = GWKCubic weights)
                    from ..oracle.resample import _cubic_weight

                    gx = np.clip(fx - 0.5, 0, ww - 1)
                    gy = np.clip(fy - 0.5, 0, hh - 1)
                    x0 = np.floor(gx).astype(int)
                    y0 = np.floor(gy).astype(int)
                    val = np.zeros(len(gx))
                    wsum = np.zeros(len(gx))
                    for di in range(-1, 3):
                        wy = _cubic_weight(gy - (y0 + di))
                        yi = np.clip(y0 + di, 0, hh - 1)
                        for dj in range(-1, 3):
                            wx = _cubic_weight(gx - (x0 + dj))
                            xi = np.clip(x0 + dj, 0, ww - 1)
                            val += wy * wx * a[yi, xi, 0]
                            wsum += wy * wx
                    val = val / np.where(wsum == 0, 1, wsum)
                else:  # bilinear
                    gx = np.clip(fx - 0.5, 0, ww - 1)
                    gy = np.clip(fy - 0.5, 0, hh - 1)
                    x0 = np.floor(gx).astype(int)
                    y0 = np.floor(gy).astype(int)
                    x1 = np.clip(x0 + 1, 0, ww - 1)
                    y1 = np.clip(y0 + 1, 0, hh - 1)
                    wx = gx - x0
                    wy = gy - y0
                    val = (
                        a[y0, x0, 0] * (1 - wx) * (1 - wy)
                        + a[y0, x1, 0] * wx * (1 - wy)
                        + a[y1, x0, 0] * (1 - wx) * wy
                        + a[y1, x1, 0] * wx * wy
                    )
                val = np.where(inside, np.round(val, 4), np.nan)
                for pid, v in zip(grp["point_id"].to_numpy(), val):
                    out.append(dict(image_id=img_id, point_id=int(pid),
                                    value=None if np.isnan(v) else float(v)))
            yield pd.DataFrame(out, columns=["image_id", "point_id", "value"])

    return joined.mapInPandas(
        gen, schema="image_id string, point_id long, value double"
    )


def contour(images: DataFrame, levels=(64.0, 128.0, 192.0),
            downsample_to: int | None = 64) -> DataFrame:
    """Marching-squares contours of band 1 (alg/contour.cpp +
    alg/marching_squares): per-image per-level segment count + total
    length in pixel units."""
    from ..oracle.contour import contour_summary
    from ..oracle.resample import resample_nearest

    lv = list(levels)

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        for level, (n, ln) in sorted(contour_summary(a, lv).items()):
            yield dict(image_id=r.image_id, level=float(level),
                       n_segments=int(n), total_len=float(np.round(ln, 4)))

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, level double, n_segments int, total_len double",
        per_image)


def viewshed_stats(images: DataFrame, observer_height: float = 2.0,
                   target_height: float = 0.0, downsample_to: int | None = 64,
                   observer_yx: tuple | None = None,
                   max_distance: float | None = None,
                   curve_coeff: float = 0.0, cell_size: float = 1.0
                   ) -> DataFrame:
    """Viewshed from each image's center (or ``observer_yx`` — the -ox/-oy
    option) over band 1 as the DEM — the Wang reference-plane algorithm
    (alg/viewshed/viewshed_executor.cpp CalcHeightLine/CalcHeightEdge
    propagation, Edge cell mode), with the -md max-distance cut and the
    -cc earth-curvature/refraction coefficient (heights drop by
    cc/(2*semi_major)*d^2 before propagation). Emits the visible-cell
    count/fraction + a visibility-mask checksum, plus an LOS check to the
    four corners (alg/los.cpp semantics)."""
    from ..oracle.viewshed import line_of_sight, viewshed

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        if observer_yx is not None:
            oy, ox = int(observer_yx[0]), int(observer_yx[1])
        else:
            oy, ox = a.shape[0] // 2, a.shape[1] // 2
        vis = viewshed(a, oy, ox, observer_height, target_height,
                       max_distance=max_distance,
                       curve_coeff=curve_coeff, cell_size=cell_size)
        corners = sum(
            line_of_sight(a, oy, ox, cy, cx, observer_height)
            for cy in (0, a.shape[0] - 1) for cx in (0, a.shape[1] - 1)
        )
        yield dict(
            image_id=r.image_id,
            n_visible=int(vis.sum()),
            frac_visible=float(np.round(vis.mean(), 4)),
            cs=checksum_image(vis.astype(np.uint8) * 255)[0],
            corners_visible=int(corners),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_visible long, frac_visible double, cs long, "
        "corners_visible int", per_image)


def viewshed_height_stats(images: DataFrame, mode: str = "ground",
                          observer_height: float = 2.0,
                          downsample_to: int | None = 64,
                          max_distance: float | None = None,
                          curve_coeff: float = 0.0,
                          cell_size: float = 1.0) -> DataFrame:
    """gdal_viewshed -om DEM|GROUND height outputs
    (viewshed_executor.cpp:378-418): per image, the deficit raster's
    zero-deficit count (== visible cells), max/mean deficit (micro-unit
    floor for cross-engine determinism), and a checksum of the rounded
    height raster."""
    from ..oracle.viewshed import viewshed_heights

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        oy, ox = a.shape[0] // 2, a.shape[1] // 2
        hmap = viewshed_heights(
            a, oy, ox, observer_height, mode=mode,
            max_distance=max_distance, curve_coeff=curve_coeff,
            cell_size=cell_size)
        base = a if mode == "dem" else 0.0
        deficit = hmap - base
        yield dict(
            image_id=r.image_id,
            n_zero=int((np.abs(deficit) <= 1e-9).sum()),
            dmax_u=int(np.floor(deficit.max() * 1e6 + 0.5)),
            dmean_u=int(np.floor(deficit.mean() * 1e6 + 0.5)),
            cs=checksum_image(
                np.clip(np.floor(hmap + 0.5), 0, 255
                        ).astype(np.uint8))[0],
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_zero long, dmax_u long, dmean_u long, cs long",
        per_image)


def contour_lines(images: DataFrame, levels=(64.0, 128.0, 192.0),
                  downsample_to: int | None = 64) -> DataFrame:
    """Contour with GEOMETRY output: marching-squares segments chained into
    iso-polylines (alg/contour.cpp SegmentMerger semantics) and emitted as
    one MultiLineString WKB per (image, level), plus line count and total
    length — the feature-emitting form the round-1 review flagged as
    missing (counts alone)."""
    from ..oracle import geom as G
    from ..oracle.contour import contour_polylines
    from ..oracle.resample import resample_nearest

    lv = list(levels)

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        for level, lines in sorted(contour_polylines(a, lv).items()):
            if not lines:
                continue
            g = ("multilinestring", lines)
            yield dict(
                image_id=r.image_id, level=float(level),
                n_lines=len(lines),
                total_len=float(np.round(G.length(g), 4)),
                wkb=G.to_wkb(*g),
            )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, level double, n_lines int, total_len double, "
        "wkb binary", per_image)


def contour_polygons(images: DataFrame, levels=(64.0, 128.0, 192.0),
                     downsample_to: int | None = 64,
                     mode: str = "marching_squares") -> DataFrame:
    """Contour POLYGON output (the reference's `gdal_contour -p` mode,
    alg/contour.cpp polygon writer): one row per (image, band) [lo, hi).

    ``mode='marching_squares'`` (reference parity): band polygons bounded
    by the linearly INTERPOLATED lo/hi iso-lines with containment-nested
    rings (alg/marching_squares/polygon_ring_appender.h), closed at the
    raster's pixel-edge extent — band areas partition the full footprint
    exactly like the reference's polygon writer.
    ``mode='pixel'`` keeps the round-2 pixel-class tracer.  Georeferenced
    to EPSG:3857; emits MultiPolygon WKB + pixel count + area."""
    from ..oracle import geom as G
    from ..oracle.contour import contour_band_polygons
    from ..oracle.rasterize import label_components, trace_rings

    lv = [-np.inf] + sorted(float(x) for x in levels) + [np.inf]

    def _band_to_geom_ms(a, lo, hi, gt):
        polys = []
        for rings_px in contour_band_polygons(a, lo, hi):
            rings = []
            for rg in rings_px:
                xs = gt[0] + rg[:, 0] * gt[1]
                ys = gt[3] + rg[:, 1] * gt[5]
                rings.append(np.column_stack([xs, ys]))
            polys.append(rings)
        return polys

    def _mask_to_geom(mask, gt):
        labels, ncomp = label_components(mask.astype(np.uint8))
        polys = []
        for lbl in range(1, ncomp + 1):
            sel = labels == lbl
            if not mask[sel][0]:
                continue
            rings_px = trace_rings(sel)
            if not rings_px:
                continue
            areas = [abs(G._ring_signed_area(rg)) for rg in rings_px]
            order = np.argsort(areas)[::-1]
            rings = []
            for k in order:
                rg = rings_px[k]
                xs = gt[0] + rg[:, 0] * gt[1]
                ys = gt[3] + rg[:, 1] * gt[5]
                rings.append(np.column_stack([xs, ys]))
            polys.append(rings)
        return polys

    def per_image(a, r):
        a = a[:, :, 0].astype(np.float64)
        h, w = a.shape
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
        if downsample_to and (h > downsample_to or w > downsample_to):
            dh, dw = min(h, downsample_to), min(w, downsample_to)
            a = resample_nearest(a, dh, dw)
            gt = [gt[0], gt[1] * w / dw, 0.0, gt[3], 0.0,
                  gt[5] * h / dh]
        for bi in range(len(lv) - 1):
            lo, hi = lv[bi], lv[bi + 1]
            mask = (a >= lo) & (a < hi)
            n = int(mask.sum())
            if n == 0:
                continue
            polys = (_band_to_geom_ms(a, lo, hi, gt)
                     if mode == "marching_squares"
                     else _mask_to_geom(mask, gt))
            if not polys:
                continue
            g = ("multipolygon", polys)
            yield dict(
                image_id=r.image_id,
                level_min=float(lo) if np.isfinite(lo) else None,
                level_max=float(hi) if np.isfinite(hi) else None,
                n_pixels=n,
                area_m2=float(G.area(g)),
                wkb=G.to_wkb(*g),
            )

    return map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, level_min double, level_max double, n_pixels long, "
        "area_m2 double, wkb binary", per_image)


def overview_downsample(images: DataFrame, method: str = "average"
                        ) -> DataFrame:
    """One 2x overview level per image with the full overview kernel set:
    average (gcore/overview.cpp:1980), gauss (:1996), rms, mode, nearest —
    per-image checksums of the downsampled raster."""
    from ..oracle.resample import (
        average_2x2, gauss_2x2, resample_mode, resample_nearest, rms_2x2,
    )

    def per_image(a, r):
        h, w = a.shape[0] & ~1, a.shape[1] & ~1
        a = a[:h, :w]
        if method == "average":
            v = average_2x2(a)
        elif method == "gauss":
            v = gauss_2x2(a)
        elif method == "rms":
            v = rms_2x2(a)
        elif method == "mode":
            v = resample_mode(a, h // 2, w // 2)
        elif method == "nearest":
            v = resample_nearest(a, h // 2, w // 2)
        else:
            raise ValueError(method)
        cs = checksum_image(v)
        yield dict(
            image_id=r.image_id, w2=int(v.shape[1]), h2=int(v.shape[0]),
            cs1=cs[0], cs2=cs[1] if len(cs) > 1 else None,
            cs3=cs[2] if len(cs) > 2 else None,
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, w2 int, h2 int, cs1 long, cs2 long, cs3 long",
        per_image)


def fill_nodata_stats(images: DataFrame, nodata_below: int = 8,
                      max_distance: int = 8, downsample_to: int | None = 64,
                      smoothing_iterations: int = 0) -> DataFrame:
    """GDALFillNodata (alg/rasterfill.cpp): IDW-fill band-1 pixels below a
    threshold (treated as nodata), with the -si 3x3 smoothing post-passes
    over the filled pixels; emits filled-count + checksum."""
    from ..oracle.contour import fill_nodata
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        a = a[:, :, 0]
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        mask = a < nodata_below
        filled = fill_nodata(a.astype(np.float64), mask,
                             max_distance, smoothing_iterations)
        filled_u8 = np.clip(np.floor(filled + 0.5), 0, 255).astype(np.uint8)
        yield dict(image_id=r.image_id, n_filled=int(mask.sum()),
                   cs=checksum_image(filled_u8)[0])

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_filled long, cs long", per_image)


def nearblack_stats(images: DataFrame, near: int = 15,
                    max_non_black: int = 2, white: bool = False,
                    downsample_to: int | None = 64) -> DataFrame:
    """GDALNearblack collar removal (apps/nearblack_lib.cpp): run the exact
    two-pass scanline algorithm on each image's RGB bands and emit the
    collar size (pixels replaced), surviving-pixel count, and checksums of
    the collar-stripped image — the per-image Arrow shape every other
    rows-gated raster op uses (decode stays task-local; at corpus scale
    this is map-only, zero shuffles)."""
    from ..oracle.nearblack import nearblack
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = np.stack(
                [resample_nearest(a[:, :, i], downsample_to,
                                  downsample_to)
                 for i in range(a.shape[2])], axis=2)
        res, mask = nearblack(a, near=near,
                              max_non_black=max_non_black,
                              white=white)
        yield dict(image_id=r.image_id,
                   n_collar=int((mask == 0).sum()),
                   n_valid=int((mask != 0).sum()),
                   cs=checksum_image(res)[0])

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_collar long, n_valid long, cs long", per_image)


def mosaic_merge(tile_rows: DataFrame, reducer: str = "last",
                 src_nodata: float | None = None,
                 dst_nodata: float = 0.0) -> DataFrame:
    """Merge tile rows sharing (z, x, y) across sources with gdalbuildvrt
    placement rules (apps/gdalbuildvrt_lib.cpp): sources compose in input
    order with LATER SOURCES ON TOP ('last'), per pixel — a pixel equal to
    src_nodata is transparent and exposes the source below; dst_nodata
    fills where no valid source contributes.  'mean' (engine extension)
    averages the valid sources (round half up).

    Input: (image_id, z, x, y, tile) with raw-codec tiles; source order is
    ascending image_id.  Children are gathered JVM-side (sort_array of
    collect_list structs) and merged in whole Arrow batches — one shuffle
    keyed by tile, the map-side-combine shape.
    """
    from .tiling import TILE_COLUMNS, TILE_SCHEMA, _decode_raw_tile, _tile_row

    gathered = tile_rows.groupBy("z", "x", "y").agg(
        F.sort_array(
            F.collect_list(F.struct("image_id", "tile"))
        ).alias("children")
    )

    def merge(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arrs = [
                    _decode_raw_tile(bytes(c["tile"])).astype(np.float64)
                    for c in r.children  # sort_array ordered by image_id
                ]
                if reducer == "mean":
                    if src_nodata is None:
                        out = np.clip(
                            np.floor(np.mean(arrs, axis=0) + 0.5), 0, 255
                        ).astype(np.uint8)
                    else:
                        stack = np.stack(arrs)
                        valid = stack != src_nodata
                        cnt = valid.sum(axis=0)
                        tot = np.where(valid, stack, 0.0).sum(axis=0)
                        with np.errstate(invalid="ignore", divide="ignore"):
                            mean = np.floor(tot / np.maximum(cnt, 1) + 0.5)
                        out = np.where(cnt > 0, mean, dst_nodata)
                        out = np.clip(out, 0, 255).astype(np.uint8)
                elif src_nodata is None:
                    # no mask: the last source fully covers (VRT ordering)
                    out = arrs[-1].astype(np.uint8)
                else:
                    # per-pixel last-valid-wins, later sources on top
                    out = np.full_like(arrs[0], dst_nodata)
                    for a in arrs:
                        out = np.where(a != src_nodata, a, out)
                    out = out.astype(np.uint8)
                rows.append(_tile_row("__mosaic__", r.z, r.x, r.y, out))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return gathered.mapInPandas(merge, schema=TILE_SCHEMA)


def mosaic_separate(tile_rows: DataFrame) -> DataFrame:
    """gdalbuildvrt -separate (apps/gdalbuildvrt_lib.cpp): every source
    becomes its own band of the mosaic, in input order — relationally, one
    row per (z, x, y, band) with band = source rank.  Pure JVM (one window
    rank over the tile key), no decode."""
    from pyspark.sql import Window

    w = Window.partitionBy("z", "x", "y").orderBy("image_id")
    return tile_rows.withColumn("band", F.row_number().over(w))


def raster_info(images: DataFrame) -> DataFrame:
    """gdalinfo -json analogue (apps/gdalinfo_lib.cpp report fields): one
    row per image with the driver id (magic-byte dispatch), size, band
    count, the 3857 geotransform, corner coordinates in lon/lat, native
    tile zoom, and per-band min/max/mean/stddev
    (GDALRasterBand::ComputeStatistics exact pass) — the metadata surface
    a user reads before running anything else.  Map-only."""
    from ..codecs.registry import identify
    from ..oracle.mercator import meters_to_lonlat
    from ..oracle.tiling import native_zoom

    def per_image(a, r):
        h, w, nb = a.shape[0], a.shape[1], a.shape[2]
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
        ul = meters_to_lonlat(gt[0], gt[3])
        lr = meters_to_lonlat(gt[0] + w * gt[1], gt[3] + h * gt[5])
        af = a.reshape(-1, nb).astype(np.float64)
        yield dict(
            image_id=r.image_id, driver=identify(r.bytes), w=w, h=h,
            bands=nb, gt=[float(v) for v in gt],
            ul_lon=float(ul[0]), ul_lat=float(ul[1]),
            lr_lon=float(lr[0]), lr_lat=float(lr[1]),
            zoom=int(native_zoom(r.gsd_m)),
            b1_min=float(af[:, 0].min()),
            b1_max=float(af[:, 0].max()),
            b1_mean=float(np.round(af[:, 0].mean(), 6)),
            b1_std=float(np.round(af[:, 0].std(), 6)),
        )

    return map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, driver string, w int, h int, bands int, "
        "gt array<double>, ul_lon double, ul_lat double, lr_lon double, "
        "lr_lat double, zoom int, b1_min double, b1_max double, "
        "b1_mean double, b1_std double", per_image)


def tile_index(images: DataFrame, tileindex: str = "location",
               src_srs_name: str | None = None,
               src_srs: str = "EPSG:3857") -> DataFrame:
    """gdaltindex (apps/gdaltindex_lib.cpp): one vector feature per source
    raster with its extent polygon and a ``location`` attribute (the -lyr
    tile-index field, default "location" per gdaltindex_lib.cpp defaults);
    -src_srs_name adds a CRS attribute column.  The geometry is the
    5-point extent ring as WKT plus (minx,miny,maxx,maxy) bbox columns so
    downstream spatial filters partition-prune (SURVEY §2 row 10 / GTI
    driver shape: the index IS a table, mosaicking joins against it).

    Zero UDF, zero decode: extent math is the same closed form as
    oracle/tiling.image_bounds_3857, evaluated JVM-side from the
    (lon, lat, w, h, gsd_m) metadata columns."""
    from ..sql import templates as T

    mx = F.expr(T.sql_mx("lon"))
    my = F.expr(T.sql_my("lat"))
    hw = F.col("w") * F.col("gsd_m") / F.lit(2.0)
    hh = F.col("h") * F.col("gsd_m") / F.lit(2.0)
    out = (
        images.select("image_id", "lon", "lat", "w", "h", "gsd_m")
        .withColumn("minx", mx - hw).withColumn("miny", my - hh)
        .withColumn("maxx", mx + hw).withColumn("maxy", my + hh)
        .select(
            F.col("image_id").alias(tileindex),
            F.format_string(
                "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, "
                "%.6f %.6f))",
                "minx", "miny", "maxx", "miny", "maxx", "maxy",
                "minx", "maxy", "minx", "miny",
            ).alias("wkt"),
            F.round("minx", 6).alias("minx"), F.round("miny", 6).alias("miny"),
            F.round("maxx", 6).alias("maxx"), F.round("maxy", 6).alias("maxy"),
        )
    )
    if src_srs_name:
        out = out.withColumn(src_srs_name, F.lit(src_srs))
    return out


def raster_compare(golden: DataFrame, new: DataFrame,
                   key: str = "image_id") -> DataFrame:
    """gdalcompare (osgeo_utils/gdalcompare.py compare_db/compare_band):
    golden-vs-new diff with the reference's found_diff counter — one
    increment per differing aspect (driver, raster size, band count, band
    size, per-band checksum), binary-identical short circuit, and on a
    checksum mismatch the compare_image_pixels deep report
    (pixels-differing count + maximum absolute pixel difference over the
    float64 cast).  One row per key present in BOTH tables; found_diff == 0
    means the images compare clean.

    Distributed shape: equi-join on the key (Catalyst picks broadcast vs
    shuffle), then a map-only Arrow decode of the two payloads side by
    side — at corpus scale this is the golden-run regression gate run as
    one job, not a driver loop over files."""
    from ..codecs.registry import identify

    g = golden.select(F.col(key).alias("k"), F.col("bytes").alias("gb"))
    n = new.select(F.col(key).alias("k"), F.col("bytes").alias("nb"))
    joined = g.join(n, "k")

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                gb, nb = bytes(r.gb), bytes(r.nb)
                if gb == nb:
                    out.append(dict(
                        k=r.k, same_binary=True, found_diff=0,
                        n_bands_golden=0, n_bands_new=0,
                        cs_diff_bands=0, pixels_differing=0, max_diff=0.0))
                    continue
                found = 0
                if identify(gb) != identify(nb):
                    found += 1
                ga = decode(gb)
                na = decode(nb)
                if ga.shape[:2] != na.shape[:2]:
                    found += 1
                if ga.shape[2] != na.shape[2]:
                    found += 1
                npx_diff, mx, cs_bands = 0, 0.0, 0
                if ga.shape[:2] == na.shape[:2]:
                    for b in range(min(ga.shape[2], na.shape[2])):
                        if checksum_image(ga[:, :, b])[0] != \
                                checksum_image(na[:, :, b])[0]:
                            d = ga[:, :, b].astype(np.float64) \
                                - na[:, :, b].astype(np.float64)
                            npx_diff += int(np.count_nonzero(d))
                            mx = max(mx, float(np.abs(d).max()))
                            cs_bands += 1
                            found += 1
                out.append(dict(
                    k=r.k, same_binary=False, found_diff=found,
                    n_bands_golden=int(ga.shape[2]), n_bands_new=int(na.shape[2]),
                    cs_diff_bands=cs_bands, pixels_differing=npx_diff,
                    max_diff=mx))
            pdf_out = pd.DataFrame(out, columns=[
                "k", "same_binary", "found_diff", "n_bands_golden",
                "n_bands_new", "cs_diff_bands", "pixels_differing",
                "max_diff"])
            yield pdf_out.rename(columns={"k": key})

    return joined.mapInPandas(
        gen, schema=f"{key} string, same_binary boolean, found_diff int, "
                    "n_bands_golden int, n_bands_new int, cs_diff_bands int, "
                    "pixels_differing long, max_diff double")


# gdal raster neighbors named kernels (apps/gdalalg_raster_neighbors.cpp:46-77)
_NEIGHBOR_KERNELS = {
    ("u", 3): [0, 0, 0, -1, 0, 1, 0, 0, 0],
    ("v", 3): [0, -1, 0, 0, 0, 0, 0, 1, 0],
    ("edge1", 3): [0, -1, 0, -1, 4, -1, 0, -1, 0],
    ("edge2", 3): [-1, -1, -1, -1, 8, -1, -1, -1, -1],
    ("sharpen", 3): [0, -1, 0, -1, 5, -1, 0, -1, 0],
    ("gaussian", 3): [1, 2, 1, 2, 4, 2, 1, 2, 1],
    ("gaussian", 5): [1, 4, 6, 4, 1, 4, 16, 24, 16, 4, 6, 24, 36, 24, 6,
                      4, 16, 24, 16, 4, 1, 4, 6, 4, 1],
    ("unsharp-masking", 5): [1, 4, 6, 4, 1, 4, 16, 24, 16, 4,
                             6, 24, -476, 24, 6, 4, 16, 24, 16, 4,
                             1, 4, 6, 4, 1],
}


def _neighbors_filter(a: np.ndarray, coefs: np.ndarray, size: int,
                      method: str, nodata: float | None) -> np.ndarray:
    """VRTKernelFilteredSource::FilterData (frmts/vrt/vrtfilters.cpp) over
    one band: per output pixel, scan the size x size window in row-major
    order; skip nodata/NaN sources and zero coefficients entirely; every
    surviving value enters WEIGHTED (val * coef) — including for the order
    statistics, the reference's documented quirk.  Borders use edge
    replication (vrtfilters.cpp RasterIO 'we replicate the edge valid
    values out').  No valid neighbor -> nodata (or 0 without one); a
    nodata center pixel stays nodata."""
    from numpy.lib.stride_tricks import sliding_window_view

    r = size // 2
    src = a.astype(np.float64)
    pad = np.pad(src, r, mode="edge")
    win = sliding_window_view(pad, (size, size)).reshape(
        a.shape[0], a.shape[1], size * size)
    cf = coefs.reshape(-1)
    valid = np.broadcast_to(cf != 0.0, win.shape) & ~np.isnan(win)
    if nodata is not None:
        valid = valid & (win != nodata)
    w = np.where(valid, win * cf, np.nan)
    nvalid = valid.sum(axis=2)
    fill = nodata if nodata is not None else 0.0
    with np.errstate(invalid="ignore"):
        if method == "sum":
            out = np.nansum(w, axis=2)
        elif method == "mean":
            ksum = np.where(valid, cf, 0.0).sum(axis=2)
            out = np.where((nvalid == 0) | (ksum == 0.0), fill,
                           np.nansum(w, axis=2)
                           / np.where(ksum == 0.0, 1.0, ksum))
        elif method in ("min", "max"):
            red = np.nanmin if method == "min" else np.nanmax
            out = np.where(nvalid == 0, fill,
                           red(np.where(nvalid[..., None] == 0, 0.0, w),
                               axis=2))
        elif method == "stddev":
            m1 = np.nanmean(np.where(nvalid[..., None] == 0, 0.0, w), axis=2)
            m2 = np.nanmean(np.where(nvalid[..., None] == 0, 0.0, w) ** 2,
                            axis=2)
            out = np.where(nvalid == 0, fill,
                           np.sqrt(np.maximum(m2 - m1 * m1, 0.0)))
        elif method == "median":
            out = np.where(nvalid == 0, fill,
                           np.nanmedian(
                               np.where(nvalid[..., None] == 0, 0.0, w),
                               axis=2))
        elif method == "mode":
            # running-count semantics: the winner is the value whose count
            # FIRST reaches the maximum in scan order (strictly-greater
            # update, vrtfilters.cpp mapValToCount loop)
            k = size * size
            best_cnt = np.zeros(a.shape, dtype=np.int64)
            best_val = np.full(a.shape, fill, dtype=np.float64)
            for p in range(k):
                vp = w[..., p]
                okp = valid[..., p]
                run = np.zeros(a.shape, dtype=np.int64)
                for qq in range(p + 1):
                    run += (valid[..., qq] & (w[..., qq] == vp)).astype(
                        np.int64)
                upd = okp & (run > best_cnt)
                best_cnt = np.where(upd, run, best_cnt)
                best_val = np.where(upd, vp, best_val)
            out = best_val
        else:
            raise ValueError(method)
    if nodata is not None:
        out = np.where(src == nodata, nodata, out)
    return out


def neighbor_coefs(kernel: str, size: int, method: str | None):
    """(coefs, method) for a named kernel: the flattened size x size
    coefficients and the combine method, which defaults to 'sum' for
    zero-sum kernels else 'mean' (apps/gdalalg_raster_neighbors.cpp
    :453-462); the 'equal' kernel is all-ones, 1/n^2 for mean (:489-499)."""
    if (kernel, size) in _NEIGHBOR_KERNELS:
        coefs = np.array(_NEIGHBOR_KERNELS[(kernel, size)], dtype=np.float64)
    elif kernel == "equal":
        coefs = np.ones(size * size, dtype=np.float64)
    else:
        raise ValueError(f"unknown kernel {kernel!r} at size {size}")
    if method is None:
        method = "sum" if coefs.sum() == 0.0 else "mean"
    if kernel == "equal" and method == "mean":
        coefs = coefs / (size * size)
    return coefs, method


def neighbors(images: DataFrame, method: str | None = None,
              size: int = 3, kernel: str = "equal",
              nodata: float | None = None) -> DataFrame:
    """gdal raster neighbors (apps/gdalalg_raster_neighbors.cpp): focal /
    moving-window filter of band 1 with a named kernel (u, v, equal,
    edge1, edge2, sharpen, gaussian, unsharp-masking) and a combine
    method (mean, sum, min, max, stddev, median, mode).  Defaults mirror
    the reference: method omitted -> 'sum' for zero-sum kernels else
    'mean' (:453-462); the 'equal' kernel is all-ones (1/n^2 for mean,
    :489-499).  Map-only mapInPandas — at scale this is one pass over the
    corpus with no shuffle."""
    coefs, method = neighbor_coefs(kernel, size, method)

    def per_image(a, r):
        a = a[:, :, 0]
        v = _neighbors_filter(a, coefs, size, method, nodata)
        yield dict(
            image_id=r.image_id,
            cs=checksum_image(v)[0],
            vmin=float(np.round(np.min(v), 6)),
            vmax=float(np.round(np.max(v), 6)),
            vmean=float(np.round(np.mean(v), 6)),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, cs long, vmin double, vmax double, vmean double",
        per_image)


def _parse_reclass_mapping(mapping: str, nodata: float | None):
    """gdal raster reclassify mapping grammar (frmts/vrt/vrtreclassifier.cpp
    Interval::Parse / Init): ';'-separated "interval=dest" terms.  interval
    is a constant, "[a,b]" / "(a,b)" with -inf/inf and open bounds realized
    by nextafter (:46-157), or the specials DEFAULT and NO_DATA (:221-231).
    dest is a number, NO_DATA, or PASS_THROUGH (:273-297).  Returns
    (intervals, default, nan_value) where intervals is a list of
    (lo, hi, dest-or-None-for-passthrough)."""
    intervals, default, nan_value = [], None, None
    for term in mapping.split(";"):
        term = term.strip()
        if not term:
            continue
        src_s, dst_s = (p.strip() for p in term.split("=", 1))
        if dst_s.upper() == "NO_DATA":
            if nodata is None:
                raise ValueError("Value mapped to NO_DATA, but NoData value "
                                 "is not set")
            dst = float(nodata)
        elif dst_s.upper() == "PASS_THROUGH":
            dst = None
        else:
            dst = float(dst_s)
        if src_s.upper() == "DEFAULT":
            default = ("value", dst)
        elif src_s.upper() == "NO_DATA":
            if nodata is None:
                raise ValueError("Value mapped from NO_DATA, but NoData "
                                 "value is not set")
            intervals.append((float(nodata), float(nodata), dst))
            nan_value = dst  # NaN nodata handled via the NaN slot
        elif src_s[0] in "([":
            lo_s, hi_s = src_s[1:-1].split(",")
            lo = float(lo_s.strip())   # float() accepts -inf/inf spellings
            hi = float(hi_s.strip())
            if src_s[0] == "(":
                lo = np.nextafter(lo, np.inf)
            if src_s[-1] == ")":
                hi = np.nextafter(hi, -np.inf)
            if lo > hi:
                raise ValueError("Lower bound of interval must be lower or "
                                 "equal to upper bound")
            intervals.append((lo, hi, dst))
        else:
            v = float(src_s)
            intervals.append((v, v, dst))
    return intervals, default, nan_value


def reclassify_array(a: np.ndarray, intervals, default) -> np.ndarray:
    """float64 band ``a`` through parsed ``_parse_reclass_mapping`` rules:
    the first matching interval emits its destination (the source value
    for PASS_THROUGH), unmatched values take DEFAULT, and with no DEFAULT
    an unmatched value is an error (Reclassify's bFoundInterval=false
    path)."""
    res = np.empty_like(a)
    matched = np.zeros(a.shape, dtype=bool)
    for lo, hi, dst in intervals:
        sel = (~matched) & (a >= lo) & (a <= hi)
        res[sel] = a[sel] if dst is None else dst
        matched |= sel
    if default is not None:
        dst = default[1]
        res[~matched] = (a[~matched] if dst is None else dst)
    elif not matched.all():
        bad = float(a[~matched].flat[0])
        raise ValueError(
            f"Encountered value {bad} with no specified mapping")
    return res


def reclassify(images: DataFrame, mapping: str,
               nodata: float | None = None) -> DataFrame:
    """gdal raster reclassify (apps/gdalalg_raster_reclassify.cpp +
    frmts/vrt/vrtreclassifier.cpp): map band-1 pixel values through
    interval rules, e.g. "[0,100)=1;[100,200)=2;DEFAULT=0".  Matched
    intervals emit their destination (or the source value for
    PASS_THROUGH); unmatched values take DEFAULT, and with no DEFAULT an
    unmatched value is an error (Reclassify's bFoundInterval=false path).
    Map-only over the corpus."""
    intervals, default, _ = _parse_reclass_mapping(mapping, nodata)

    def per_image(a, r):
        res = reclassify_array(a[:, :, 0].astype(np.float64), intervals,
                               default)
        yield dict(
            image_id=r.image_id,
            cs=checksum_image(res)[0],
            vmin=float(np.min(res)), vmax=float(np.max(res)),
            vmean=float(np.round(np.mean(res), 6)),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, cs long, vmin double, vmax double, vmean double",
        per_image)


def nodata_to_alpha(images: DataFrame, nodata) -> DataFrame:
    """gdal raster nodata-to-alpha (apps/gdalalg_raster_nodata_to_alpha.cpp):
    append an alpha band that is 0 where the pixel is nodata and 255
    elsewhere.  ``nodata`` is one value for every band or a per-band list —
    the multi-band case follows the NODATA_VALUES convention the reference
    delegates to (:74-81): a pixel is transparent only when EVERY band
    equals its respective nodata value.  Emits the RGBA re-encode plus the
    alpha checksum and transparent-pixel count.  Map-only."""
    nd = [float(v) for v in (nodata if hasattr(nodata, "__len__")
                             else [nodata])]

    def per_image(a, r):
        nb = a.shape[2]
        vals = nd if len(nd) == nb else [nd[0]] * nb
        mask = np.ones(a.shape[:2], dtype=bool)
        for b in range(nb):
            mask &= a[:, :, b] == vals[b]
        alpha = np.where(mask, 0, 255).astype(np.uint8)
        rgba = np.dstack([a, alpha])
        yield dict(
            image_id=r.image_id, bytes=encode(rgba, "png"),
            n_transparent=int(mask.sum()),
            alpha_cs=checksum_image(alpha)[0],
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, bytes binary, n_transparent long, alpha_cs long",
        per_image)


def raster_to_xyz(images: DataFrame, band: int = 0,
                  skip: int = 1, srcwin=None,
                  skip_nodata: float | None = None) -> DataFrame:
    """gdal2xyz (apps/gdal2xyz_lib.cpp / swig gdal2xyz.py): explode each
    raster into one row per (every ``skip``-th) pixel with the
    georeferenced CENTER coordinates from the image's 3857 geotransform
    (x = gt0 + (col+0.5)*gt1, y = gt3 + (row+0.5)*gt5) and the band
    value; ``srcwin`` restricts to a pixel window, ``skip_nodata`` drops
    matching values (the -skipnodata flag).  Map-only: the explode
    happens inside the decode UDF, so per-pixel rows exist only past the
    operator's own output — at corpus scale, filter/aggregate downstream
    of this is Catalyst's job."""

    def gen(batches):
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                a = decode(r.bytes)[:, :, band]
                h, w = a.shape
                gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
                x0, y0, ww, hh = (srcwin if srcwin is not None
                                  else (0, 0, w, h))
                cols = np.arange(x0, min(x0 + ww, w), skip)
                rows = np.arange(y0, min(y0 + hh, h), skip)
                cc, rr = np.meshgrid(cols, rows)
                vals = a[rr, cc].astype(np.float64).ravel()
                xg = gt[0] + (cc.ravel() + 0.5) * gt[1]
                yg = gt[3] + (rr.ravel() + 0.5) * gt[5]
                if skip_nodata is not None:
                    keep = vals != skip_nodata
                    xg, yg, vals = xg[keep], yg[keep], vals[keep]
                frames.append(pd.DataFrame({
                    "image_id": r.image_id, "x": xg, "y": yg, "v": vals}))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame({"image_id": [], "x": [], "y": [],
                                      "v": []}))

    return images.select("image_id", "bytes", "lon", "lat", "gsd_m"
                         ).mapInPandas(
        gen, schema="image_id string, x double, y double, v double")


def image_quality(images: DataFrame, band: int = 0,
                  downsample_to: int | None = None) -> DataFrame:
    """Per-image quality metrics for training-corpus filtering (the image
    analogue of functions/text.quality_score): sharpness = variance of
    the 3x3 Laplacian (the classic blur detector), exposure = mean/std
    brightness, 256-bin Shannon entropy in bits, dynamic range min/max,
    and the fraction of saturated (0 or 255) pixels.  Map-only Arrow —
    one decode per image, integer-exact partials where possible."""
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        a = a[:, :, band].astype(np.int64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        n = a.size
        lap = (a[1:-1, :-2] + a[1:-1, 2:] + a[:-2, 1:-1]
               + a[2:, 1:-1] - 4 * a[1:-1, 1:-1])
        lv = float(lap.var()) if lap.size else 0.0
        hist = np.bincount(a.ravel(), minlength=256)
        pnz = hist[hist > 0] / n
        entropy = float(-(pnz * np.log2(pnz)).sum())
        yield dict(
            image_id=r.image_id,
            sharpness=float(np.round(lv, 6)),
            mean=float(np.round(a.mean(), 6)),
            std=float(np.round(a.std(), 6)),
            entropy_bits=float(np.round(entropy, 6)),
            vmin=int(a.min()), vmax=int(a.max()),
            saturated_frac=float(np.round(
                (hist[0] + hist[255]) / n, 6)),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, sharpness double, mean double, std double, "
        "entropy_bits double, vmin int, vmax int, saturated_frac double",
        per_image)


def rgb_to_pct(images: DataFrame, n_colors: int = 256, dither: bool = True,
               downsample_to: int | None = 64) -> DataFrame:
    """rgb2pct (alg/gdalmediancut.cpp + alg/gdaldither.cpp): median-cut
    palette per image, GDAL's sixth-split integer error diffusion (or
    plain cube nearest with dither=False), paletted-PNG re-encode.  Emits
    the actual palette size, index checksum, reconstruction mean absolute
    error in micro-units, and the paletted container bytes — which decode
    straight back through the existing PLTE path (codecs/png.decode_png),
    closing the rgb2pct -> pct2rgb loop."""
    from ..codecs.png import encode_png_paletted
    from ..oracle.mediancut import (_color_cube, dither_rgb_to_pct,
                                    median_cut_pct)
    from ..oracle.resample import resample_nearest

    def per_image(a, r):
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = np.stack(
                [resample_nearest(a[:, :, i], downsample_to,
                                  downsample_to)
                 for i in range(a.shape[2])], axis=2)
        pal = median_cut_pct(a, n_colors)
        if dither:
            idx = dither_rgb_to_pct(a, pal)
        else:
            cube = _color_cube(pal, 5)
            q = a[:, :, :3].astype(np.int64) * 32 // 256
            idx = cube[q[:, :, 0], q[:, :, 1],
                       q[:, :, 2]].astype(np.uint8)
        rec = pal[idx].astype(np.int64)
        mae = float(np.abs(rec - a[:, :, :3].astype(np.int64)).mean())
        yield dict(
            image_id=r.image_id, n_pal=int(len(pal)),
            cs_idx=checksum_image(idx)[0],
            mae_u=int(np.floor(mae * 1e6 + 0.5)),
            pct_png=encode_png_paletted(idx, pal),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_pal int, cs_idx long, mae_u long, pct_png binary",
        per_image)


def mosaic_resolution_zoom(images: DataFrame, rule: str = "highest") -> int:
    """gdalbuildvrt -resolution {highest|lowest|average} over the source
    resolutions (apps/gdalbuildvrt_lib.cpp:1111-1147: highest = min
    pixel size across sources, lowest = max, average = mean), mapped to
    the mosaic's tile zoom through the never-scale-up rule
    (oracle.mercator.zoom_for_pixel_size).  One distributed aggregate of
    the gsd column; only the single scalar reaches the driver."""
    from ..oracle.mercator import zoom_for_pixel_size

    agg = {"highest": F.min, "lowest": F.max, "average": F.avg}.get(rule)
    if agg is None:
        raise ValueError(f"unknown -resolution rule: {rule}")
    gsd = images.agg(agg("gsd_m")).collect()[0][0]
    if gsd is None:
        raise ValueError("empty source list")
    return int(zoom_for_pixel_size(float(gsd)))


def mosaic_tiles(images: DataFrame, zoom: int | None = None,
                 reducer: str = "mean",
                 src_nodata: float | None = None,
                 resolution: str | None = None) -> DataFrame:
    """gdalbuildvrt-style mosaic (apps/gdalbuildvrt_lib.cpp): render every
    image's base tiles at a fixed zoom, then merge tiles sharing (z, x, y)
    with the placement rules of mosaic_merge ('last' = reference ordering
    semantics, 'mean' = engine extension). The target zoom comes from
    ``zoom``, else from the -resolution ``rule`` over the sources
    (mosaic_resolution_zoom), else defaults to 8."""
    from .tiling import render_base_tiles

    if zoom is not None:
        z = zoom
    elif resolution is not None:
        z = mosaic_resolution_zoom(images, resolution)
    else:
        z = 8
    base = render_base_tiles(images, zoom=z, codec="raw")
    return mosaic_merge(base, reducer=reducer, src_nodata=src_nodata)


def band_histogram(images: DataFrame, dmin: float = -0.5, dmax: float = 255.5,
                   n_buckets: int = 256, band: int = 0,
                   include_out_of_range: bool = False,
                   nodata: float | None = None,
                   merge: bool = False) -> DataFrame:
    """GetHistogram (gcore/gdalrasterband.cpp:4224): bucket index is
    ``floor((v - min) * nBuckets / (max - min))``; values outside the range
    are dropped unless ``include_out_of_range``, which clamps them into the
    edge buckets (:4510-4520); nodata pixels are always skipped (:4504).
    The uint8/256-bucket/scale-1 fast path (:4613) falls out of the same
    formula, so one kernel covers both.

    Scale shape: per-image partials are a single ``n_buckets``-long array
    computed inside the decode UDF (no pixel explosion); the corpus-wide
    histogram is posexplode + groupBy(bucket).sum — map-side partial agg,
    one shuffle of n_buckets rows per task.
    """
    scale = n_buckets / (dmax - dmin)
    if not (scale > 0 and np.isfinite(scale)):
        raise ValueError("invalid histogram range")

    def per_image(a, r):
        v = a[..., min(band, a.shape[2] - 1)].astype(np.float64).ravel()
        if nodata is not None:
            v = v[v != nodata]
        idx = np.floor((v - dmin) * scale)
        if include_out_of_range:
            idx = np.clip(idx, 0, n_buckets - 1)
        else:
            idx = idx[(idx >= 0) & (idx < n_buckets)]
        hist = np.bincount(idx.astype(np.int64), minlength=n_buckets)
        yield dict(image_id=r.image_id,
                   hist=[int(x) for x in hist])

    partials = map_images(
        images, ["image_id", "bytes"],
        "image_id string, hist array<long>", per_image)
    rows = partials.select(
        "image_id", F.posexplode("hist").alias("bucket", "cnt")
    )
    if merge:
        return rows.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    return rows


def warp_gcp(images: DataFrame, method: str = "tps", order: int = 2,
             out_size: tuple | None = None) -> DataFrame:
    """gdalwarp with GCP georeferencing (alg/gdal_tps.cpp VizGeorefSpline2D
    / alg/gdal_crs.cpp polynomial orders): per-image GCP columns —
    ``gcp_px``/``gcp_py`` (pixel/line) and ``gcp_x``/``gcp_y`` (georef) —
    fit the forward and reverse transformers exactly as the reference
    builds E12/N12 and E21/N21 by swapping the point roles; the
    destination grid spans the forward-transformed corner bbox and every
    destination center inverse-maps + nearest-samples the source.

    One tiny (n_gcps + 3) solve per image inside the Arrow batch — no
    shuffle, embarrassingly parallel at corpus scale."""
    from ..oracle.tps import gcp_transformer

    def per_image(a, r):
        band = a[..., 0] if a.ndim == 3 else a
        h, w = band.shape
        src = np.stack([np.asarray(r.gcp_px, np.float64),
                        np.asarray(r.gcp_py, np.float64)], 1)
        dst = np.stack([np.asarray(r.gcp_x, np.float64),
                        np.asarray(r.gcp_y, np.float64)], 1)
        fwd = gcp_transformer(src, dst, method, order)
        rev = gcp_transformer(dst, src, method, order)
        corners = fwd(np.array(
            [[0, 0], [w - 1.0, 0], [0, h - 1.0], [w - 1.0, h - 1.0]]))
        x0, y0 = corners.min(0)
        x1, y1 = corners.max(0)
        ow, oh = out_size if out_size is not None else (w, h)
        xs = x0 + (np.arange(ow) + 0.5) * (x1 - x0) / ow
        ys = y0 + (np.arange(oh) + 0.5) * (y1 - y0) / oh
        gx, gy = np.meshgrid(xs, ys)
        pts = rev(np.stack([gx.ravel(), gy.ravel()], 1)
                  ).reshape(oh, ow, 2)
        ix = np.floor(pts[..., 0] + 0.5).astype(np.int64)
        iy = np.floor(pts[..., 1] + 0.5).astype(np.int64)
        valid = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
        samp = band[np.clip(iy, 0, h - 1), np.clip(ix, 0, w - 1)]
        res = np.where(valid, samp, 0).astype(np.uint8)
        yield dict(
            image_id=r.image_id, w2=int(ow), h2=int(oh),
            n_valid=int(valid.sum()),
            cs=checksum_image(res)[0],
        )

    return map_images(
        images, ["image_id", "bytes", "gcp_px", "gcp_py", "gcp_x", "gcp_y"],
        "image_id string, w2 int, h2 int, n_valid long, cs long", per_image)


def warp_rpc(images: DataFrame, height: float = 0.0,
             rpc_col: str = "rpc") -> DataFrame:
    """gdalwarp with the RPC camera model (alg/gdal_rpc.cpp): each image
    row carries its RPC00B block as an array<double>[90] column (the
    per-dataset RPC metadata).  The destination lon/lat grid spans the
    footprint found by inverse-transforming the pixel corners (iterative,
    gdal_rpc.cpp RPCInverseTransformPoint shape); every destination
    center then maps dst->src through the FORWARD rational model — the
    same direction the reference's warper drives its transformer — and
    nearest-samples.  Map-only, one image per solve, no shuffle."""
    from ..oracle.rpc import rpc_forward, rpc_inverse, rpc_unpack

    def per_image(a, r):
        band = a[..., 0] if a.ndim == 3 else a
        h, w = band.shape
        rpc = rpc_unpack(getattr(r, rpc_col))
        cl, cs = np.array([0.0, 0, h - 1.0, h - 1.0]), \
            np.array([0.0, w - 1.0, 0.0, w - 1.0])
        lon_c, lat_c = rpc_inverse(rpc, cl, cs, height)
        lo0, lo1 = lon_c.min(), lon_c.max()
        la0, la1 = lat_c.min(), lat_c.max()
        lons = lo0 + (np.arange(w) + 0.5) * (lo1 - lo0) / w
        lats = la1 - (np.arange(h) + 0.5) * (la1 - la0) / h
        glon, glat = np.meshgrid(lons, lats)
        line, samp = rpc_forward(rpc, glon, glat, height)
        ix = np.floor(samp + 0.5).astype(np.int64)
        iy = np.floor(line + 0.5).astype(np.int64)
        valid = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
        res = np.where(
            valid, band[np.clip(iy, 0, h - 1), np.clip(ix, 0, w - 1)],
            0).astype(np.uint8)
        yield dict(
            image_id=r.image_id, w2=int(w), h2=int(h),
            n_valid=int(valid.sum()), cs=checksum_image(res)[0])

    return map_images(
        images, ["image_id", "bytes", rpc_col],
        "image_id string, w2 int, h2 int, n_valid long, cs long", per_image)


def retile(images: DataFrame, tile_px: int = 128, levels: int = 1,
           method: str = "nearest", emit_bytes: bool = False) -> DataFrame:
    """gdal_retile analogue (osgeo_utils/gdal_retile.py): split each image
    into fixed ``tile_px`` × ``tile_px`` PIXEL-space tiles (edge tiles
    keep their partial size, like the reference's leftover columns/rows),
    and optionally build ``levels-1`` pyramid levels where each level
    halves resolution before re-tiling (gdal_retile -levels).

    Map-only: an image's whole tile set — every level — is a pure
    function of its own row, so the explode happens inside one Arrow
    batch with zero shuffles at any corpus size. Emits per-tile
    georeferencing (the tile's own geotransform) + checksum; set
    ``emit_bytes`` for PNG payloads.
    """
    from ..codecs.png import encode_png

    def per_image(base, r):
        gt0 = geotransform_3857(r.lon, r.lat, base.shape[1],
                                base.shape[0], r.gsd_m)
        a = base
        for level in range(1, levels + 1):
            if level > 1:
                nh = max(1, (a.shape[0] + 1) // 2)
                nw = max(1, (a.shape[1] + 1) // 2)
                a = _resample_any(a, nh, nw, method)
            scale = base.shape[1] / a.shape[1]
            h, w = a.shape[0], a.shape[1]
            for ty in range((h + tile_px - 1) // tile_px):
                for tx in range((w + tile_px - 1) // tile_px):
                    t = a[ty * tile_px:(ty + 1) * tile_px,
                          tx * tile_px:(tx + 1) * tile_px]
                    cs = checksum_image(t)
                    yield dict(
                        image_id=r.image_id, level=level,
                        tx=tx, ty=ty,
                        w=int(t.shape[1]), h=int(t.shape[0]),
                        ulx=float(gt0[0] + tx * tile_px
                                  * gt0[1] * scale),
                        uly=float(gt0[3] + ty * tile_px
                                  * gt0[5] * scale),
                        px_size=float(gt0[1] * scale),
                        cs=int(cs[0] if hasattr(cs, "__len__")
                               else cs),
                        png=(bytearray(encode_png(t))
                             if emit_bytes else None),
                    )

    out = map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, level int, tx int, ty int, w int, h int, "
        "ulx double, uly double, px_size double, cs long, png binary",
        per_image)
    return out if emit_bytes else out.drop("png")


def perceptual_hash(images: DataFrame, hash_size: int = 8,
                    resize_to: int = 32) -> DataFrame:
    """DCT perceptual hash (the public pHash algorithm — Zauner 2010,
    "Implementation and Benchmarking of Perceptual Image Hash
    Functions"): luma -> nearest resize to ``resize_to``² -> 2-D DCT-II
    (orthonormal matrix form) -> top-left ``hash_size``² low-frequency
    block -> median threshold -> bits packed row-major into int64.

    Map-only Arrow batches; the DCT basis is built once, on the driver. The
    output column `phash_px` is drop-in for `dedup.hamming_near_pairs`,
    giving an image near-dup pipeline from raw pixels (decode -> hash ->
    banded Hamming LSH) with no reliance on a precomputed phash column."""
    k = np.arange(resize_to, dtype=np.float64)
    # orthonormal DCT-II basis: C[u, n] = s(u) cos(pi (2n+1) u / 2N)
    C = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None]
               / (2 * resize_to))
    C[0] *= 1 / np.sqrt(2)
    C *= np.sqrt(2.0 / resize_to)
    weights = np.array([0.299, 0.587, 0.114])

    def per_image(a, r):
        a = a.astype(np.float64)
        if a.shape[2] == 1:
            luma = a[:, :, 0]
        elif a.shape[2] == 2:  # gray + alpha
            luma = a[:, :, 0]
        else:
            luma = a[:, :, :3] @ weights
        small = resample_nearest(luma[:, :, None], resize_to,
                                 resize_to)[:, :, 0]
        d = C @ small @ C.T
        block = d[:hash_size, :hash_size].ravel()
        bits = block > np.median(block)
        h = np.uint64(0)
        for b in bits:
            h = (h << np.uint64(1)) | np.uint64(bool(b))
        yield (r.image_id, int(h.astype(np.int64)))

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, phash_px long", per_image)


def gdal_calc(images: DataFrame, calc: str,
              band_map: dict | None = None,
              emit_bytes: bool = False) -> DataFrame:
    """gdal_calc analogue (osgeo_utils/gdal_calc.py): evaluate an
    arbitrary whitelisted numpy expression over lettered band inputs of
    each image — ``(A - B) / (A + B)``, ``where(A > 128, A, 0)`` — with
    letters bound to band indices (default A,B,C,... = bands 0,1,2,...,
    override via ``band_map={'A': 2}``). The expression parses once
    driver-side (strict ast whitelist, no eval) and fails fast; pixels
    evaluate map-only in Arrow batches. Emits per-image stats (+ PNG of
    the clipped result when ``emit_bytes``)."""
    from ..codecs.png import encode_png
    from ..oracle.calcexpr import calc_eval

    calc_eval(calc, {chr(65 + i): np.zeros((1, 1)) for i in range(26)})

    def per_image(a, r):
        a = a.astype(np.float64)
        if a.ndim == 2:
            a = a[:, :, None]
        nb = a.shape[2]
        # default: A,B,C,... = bands 0,1,2,..., clamped to the last
        # band for images with fewer bands (gray inputs alias all
        # letters to band 0, so cross-band formulas still evaluate)
        bm = band_map or {chr(65 + i): i for i in range(26)}
        bindings = {k: a[:, :, min(v, nb - 1)]
                    for k, v in bm.items()}
        v = calc_eval(calc, bindings)
        v = np.broadcast_to(v, a.shape[:2]).astype(np.float64)
        u8 = np.clip(np.round(v), 0, 255).astype(np.uint8)
        yield dict(
            image_id=r.image_id, cs=int(checksum_image(v)[0]),
            vmin=float(np.round(np.nanmin(v), 6)),
            vmax=float(np.round(np.nanmax(v), 6)),
            vmean=float(np.round(np.nanmean(v), 6)),
            png=bytearray(encode_png(u8[:, :, None]))
            if emit_bytes else None)

    out = map_images(
        images, ["image_id", "bytes"],
        "image_id string, cs long, vmin double, vmax double, vmean double, "
        "png binary", per_image)
    return out if emit_bytes else out.drop("png")


def raster_blend(base_images: DataFrame, overlay_images: DataFrame,
                 operator: str = "src-over", opacity: int = 100,
                 emit_bytes: bool = False) -> DataFrame:
    """gdal raster blend (apps/gdalalg_raster_blend.cpp): composite an
    overlay table onto a base table, matched by image_id, with the
    reference's premultiplied Porter-Duff integer math — src-over,
    multiply, screen, overlay, hard-light, darken, lighten, color-dodge,
    color-burn, and hsv-value (hsv_merge.py: base hue/saturation +
    overlay value). ``opacity`` is the 0-100 percentage applied to the
    overlay's alpha ((opacity*255+50)//100, :2791).

    One equi-join on image_id + one Arrow kernel pass — the join is the
    only shuffle, keyed by the id both tables already carry."""
    from ..codecs.png import encode_png
    from ..oracle.blend import blend

    ov = overlay_images.select(
        F.col("image_id"), F.col("bytes").alias("overlay_bytes"))
    joined = base_images.select("image_id", "bytes").join(ov, "image_id")

    def per_image(a, r):
        b = decode(r.overlay_bytes)
        if b.shape[:2] != a.shape[:2]:
            b = resample_nearest(b, a.shape[0], a.shape[1])
        v = blend(a, b, mode=operator, opacity=opacity)
        cs = checksum_image(v)
        yield dict(
            image_id=r.image_id, bands=int(v.shape[2]),
            cs1=int(cs[0]), cs2=int(cs[min(1, len(cs) - 1)]),
            cs3=int(cs[min(2, len(cs) - 1)]),
            png=bytearray(encode_png(v)) if emit_bytes else None)

    out = map_images(
        joined, ["image_id", "bytes", "overlay_bytes"],
        "image_id string, bands int, cs1 long, cs2 long, cs3 long, png binary",
        per_image)
    return out if emit_bytes else out.drop("png")


def viewshed_cumulative(images: DataFrame, spacing: int = 10,
                        observer_height: float = 2.0,
                        downsample_to: int | None = 32) -> DataFrame:
    """Cumulative viewshed (alg/viewshed/cumulative.cpp): observers on a
    grid every ``spacing`` pixels starting at (0, 0) (:64-67), each runs
    the normal Wang viewshed, per-pixel visibility counts accumulate,
    and the final raster scales by floor(255/max * count) (:201-214,
    scaleOutput). Emits the scaled-raster checksum + count stats.

    Scale shape: the reference parallelizes observers over threads within
    one machine; here each IMAGE is one task (the corpus axis is the
    parallel one at 10^12 scale) and the observer loop stays in numpy."""
    from ..oracle.viewshed import viewshed as _vs

    def per_image(a, r):
        a = (a[:, :, 0] if a.ndim == 3 else a).astype(np.float64)
        if downsample_to and (a.shape[0] > downsample_to
                              or a.shape[1] > downsample_to):
            a = resample_nearest(a, downsample_to, downsample_to)
        acc = np.zeros(a.shape, dtype=np.uint32)
        n_obs = 0
        for oy in range(0, a.shape[0], spacing):
            for ox in range(0, a.shape[1], spacing):
                acc += _vs(a, oy, ox, observer_height).astype(
                    np.uint32)
                n_obs += 1
        m = int(acc.max())
        scaled = (np.floor(255.0 / m * acc).astype(np.uint32)
                  if m else acc)
        yield dict(
            image_id=r.image_id, n_observers=n_obs,
            max_count=m,
            mean_count=float(np.round(acc.mean(), 4)),
            cs=int(checksum_image(
                scaled.astype(np.uint8))[0]),
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_observers int, max_count int, mean_count double, "
        "cs long", per_image)


def dataset_check(images: DataFrame) -> DataFrame:
    """gdal dataset check (apps/gdalalg_dataset_check.cpp: 'check whether
    there are errors when reading the content of a dataset') as a
    corpus-integrity sweep: attempt a FULL decode of every blob through
    the codec registry (magic-byte dispatch, the reference's open-info
    probe) and report per-format totals, error counts, and the first
    error message — the 100 TB corrupted-blob scan.

    Map-only (one Arrow pass) + one tiny groupBy(fmt); errors never
    propagate, they become rows."""

    def scan(it):
        for pdf in it:
            fmts, oks, errs = [], [], []
            for b, fmt in zip(pdf["bytes"], pdf["fmt"]):
                try:
                    px = decode(bytes(b), fmt)
                    ok = px.size > 0
                    err = "" if ok else "empty raster"
                except Exception as e:  # noqa: BLE001 — the whole point
                    ok, err = False, f"{type(e).__name__}: {e}"[:200]
                fmts.append(fmt)
                oks.append(ok)
                errs.append(err)
            yield pd.DataFrame({"fmt": fmts, "ok": oks, "err": errs})

    scanned = images.select("bytes", "fmt").mapInPandas(
        scan, schema="fmt string, ok boolean, err string")
    return (scanned.groupBy("fmt")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                 .alias("n_errors"),
                 F.max_by("err", F.when(~F.col("ok"), 1).otherwise(0))
                 .alias("first_error"))
            .orderBy("fmt"))
