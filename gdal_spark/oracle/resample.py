"""Resampling kernels + source-window math — pure-numpy clones of the
reference semantics used by the tiling path.

* ``geo_query``: gdal2tiles' source-window computation with its exact
  ``+0.001`` / ``+0.5`` rounding and out-of-bounds adjustment
  (/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:2968-3010).
* nearest: warp-kernel convention — sample the source cell containing the
  destination pixel center (alg/gdalwarpkernel.cpp:6399-6404: floor of the
  center-mapped coordinate).
* bilinear: 4-neighbor weighted sample in pixel-center space with edge clamp
  (alg/gdalwarpkernel.cpp:3106 GWKBilinearResample semantics).
* average 2x2: overview downsample used for pyramid levels
  (gcore/overview.cpp:1980 AverageOrRMS integer path: mean of the 2x2 block,
  rounded half-up for integer types; gdal2tiles create_overview_tile
  gdal2tiles.py:1466-1530).
"""

from __future__ import annotations

import numpy as np


def geo_query(geotransform, raster_x_size, raster_y_size, ulx, uly, lrx, lry,
              querysize=0):
    """Return ``(rx, ry, rxsize, rysize), (wx, wy, wxsize, wysize)``.

    ``geotransform`` is the 6-coefficient affine (gt[5] negative for
    north-up). Exact integer semantics of gdal2tiles.py:2968-3010 including
    the epsilon/rounding constants and the proportional window shrink at the
    raster edges.
    """
    gt = geotransform
    rx = int((ulx - gt[0]) / gt[1] + 0.001)
    ry = int((uly - gt[3]) / gt[5] + 0.001)
    rxsize = max(1, int((lrx - ulx) / gt[1] + 0.5))
    rysize = max(1, int((lry - uly) / gt[5] + 0.5))

    if not querysize:
        wxsize, wysize = rxsize, rysize
    else:
        wxsize, wysize = querysize, querysize

    wx = 0
    if rx < 0:
        rxshift = abs(rx)
        wx = int(wxsize * (float(rxshift) / rxsize))
        wxsize = wxsize - wx
        rxsize = rxsize - int(rxsize * (float(rxshift) / rxsize))
        rx = 0
    if rx + rxsize > raster_x_size:
        wxsize = int(wxsize * (float(raster_x_size - rx) / rxsize))
        rxsize = raster_x_size - rx

    wy = 0
    if ry < 0:
        ryshift = abs(ry)
        wy = int(wysize * (float(ryshift) / rysize))
        wysize = wysize - wy
        rysize = rysize - int(rysize * (float(ryshift) / rysize))
        ry = 0
    if ry + rysize > raster_y_size:
        wysize = int(wysize * (float(raster_y_size - ry) / rysize))
        rysize = raster_y_size - ry

    return (rx, ry, rxsize, rysize), (wx, wy, wxsize, wysize)


def _center_coords(out_n, src_n):
    """Destination pixel centers mapped into source pixel coordinates
    (pixel-center convention: dst center (d+0.5) -> src coord
    (d+0.5)*src/out)."""
    return (np.arange(out_n, dtype=np.float64) + 0.5) * (src_n / float(out_n))


def resample_nearest(src, out_h, out_w):
    """Nearest-neighbor resize of an (H, W[, C]) array: pick the source cell
    containing each destination pixel center (floor of the center-mapped
    coordinate, clamped to the source grid)."""
    src = np.asarray(src)
    h, w = src.shape[0], src.shape[1]
    sy = np.clip(np.floor(_center_coords(out_h, h)).astype(np.int64), 0, h - 1)
    sx = np.clip(np.floor(_center_coords(out_w, w)).astype(np.int64), 0, w - 1)
    return src.take(sy, axis=0).take(sx, axis=1)


def resample_bilinear(src, out_h, out_w):
    """Bilinear resize of an (H, W[, C]) array, pixel-center convention with
    edge clamp; float64 accumulation, rounded half-up back to the input dtype
    for integer inputs (GDALCopyWords float->int behavior:
    alg/gdalchecksum.cpp IntFromDouble / gcore rounding)."""
    src = np.asarray(src)
    h, w = src.shape[0], src.shape[1]
    fy = _center_coords(out_h, h) - 0.5
    fx = _center_coords(out_w, w) - 0.5
    y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)

    a = src[np.ix_(y0, x0)].astype(np.float64)
    b = src[np.ix_(y0, x1)].astype(np.float64)
    c = src[np.ix_(y1, x0)].astype(np.float64)
    d = src[np.ix_(y1, x1)].astype(np.float64)

    if src.ndim == 3:
        wy_ = wy[:, None, None]
        wx_ = wx[None, :, None]
    else:
        wy_ = wy[:, None]
        wx_ = wx[None, :]

    top = a * (1 - wx_) + b * wx_
    bot = c * (1 - wx_) + d * wx_
    out = top * (1 - wy_) + bot * wy_

    if np.issubdtype(src.dtype, np.integer):
        info = np.iinfo(src.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(src.dtype)
    return out.astype(src.dtype)


def average_2x2(src):
    """2x2 block-average downsample (H, W[, C]) -> (H//2, W//2[, C]).
    Requires even H and W. Integer inputs round half-up like the reference's
    integer average overview (gcore/overview.cpp:1980 region); uint8 takes
    an exact integer fast path (floor(s/4 + 0.5) == (s + 2) >> 2) that sums
    the row pairs, then the column pairs of those sums."""
    src = np.asarray(src)
    h, w = src.shape[0] & ~1, src.shape[1] & ~1
    s = src[:h, :w]
    if src.dtype == np.uint8:
        rows = s[0::2].astype(np.uint16)
        rows += s[1::2]
        acc = rows[:, 0::2] + rows[:, 1::2]
        acc += 2
        acc >>= 2
        return acc.astype(np.uint8)
    blocks = (
        s.reshape(h // 2, 2, w // 2, 2, s.shape[2])
        if s.ndim == 3
        else s.reshape(h // 2, 2, w // 2, 2)
    )
    acc = blocks.astype(np.float64).mean(axis=(1, 3))
    if np.issubdtype(src.dtype, np.integer):
        info = np.iinfo(src.dtype)
        return np.clip(np.floor(acc + 0.5), info.min, info.max).astype(src.dtype)
    return acc.astype(src.dtype)


def rms_2x2(src):
    """2x2 RMS downsample (gcore/overview.cpp AverageOrRMS, RMS branch):
    sqrt of the block mean of squares, rounded half-up for integers."""
    src = np.asarray(src)
    h, w = src.shape[0] & ~1, src.shape[1] & ~1
    s = src[:h, :w].astype(np.float64)
    sq = s * s
    blocks = (
        sq.reshape(h // 2, 2, w // 2, 2, s.shape[2]) if s.ndim == 3
        else sq.reshape(h // 2, 2, w // 2, 2)
    )
    out = np.sqrt(blocks.mean(axis=(1, 3)))
    if np.issubdtype(src.dtype, np.integer):
        info = np.iinfo(src.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(src.dtype)
    return out.astype(src.dtype)


_GAUSS3 = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64)


def gauss_2x2(src):
    """2x Gauss overview (gcore/overview.cpp:1996 GDALResampleChunk_Gauss,
    3x3 kernel for factor 2): output pixel (i, j) convolves the 3x3 window
    rooted at source (2i, 2j) with [[1,2,1],[2,4,2],[1,2,1]], truncated and
    re-normalized at the bottom/right image edges (overview.cpp:2101-2160
    window clamp + weight accumulation)."""
    src = np.asarray(src)
    if src.ndim == 3:
        return np.stack(
            [gauss_2x2(src[:, :, c]) for c in range(src.shape[2])], axis=2
        )
    h, w = src.shape
    oh, ow = h // 2, w // 2
    acc = np.zeros((oh, ow), dtype=np.float64)
    wsum = np.zeros((oh, ow), dtype=np.float64)
    s = src.astype(np.float64)
    for di in range(3):
        rows = 2 * np.arange(oh) + di
        rok = rows < h
        for dj in range(3):
            cols = 2 * np.arange(ow) + dj
            cok = cols < w
            if not (rok.any() and cok.any()):
                continue
            kw = _GAUSS3[di, dj]
            block = s[np.ix_(rows[rok], cols[cok])]
            acc[np.ix_(rok, cok)] += kw * block
            wsum[np.ix_(rok, cok)] += kw
    out = acc / wsum
    if np.issubdtype(src.dtype, np.integer):
        info = np.iinfo(src.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(src.dtype)
    return out.astype(src.dtype)


def _cubic_weight(x):
    """Catmull-Rom (a = -0.5), GDAL's 'cubic' (alg/gdalwarper.h GRA_Cubic;
    kernel in alg/gdalwarpkernel.cpp GWKCubicComputeWeights)."""
    a = -0.5
    ax = np.abs(x)
    w = np.where(
        ax <= 1.0,
        (a + 2.0) * ax**3 - (a + 3.0) * ax**2 + 1.0,
        np.where(ax < 2.0, a * ax**3 - 5.0 * a * ax**2 + 8.0 * a * ax - 4.0 * a, 0.0),
    )
    return w


def _lanczos_weight(x):
    """Lanczos a=3 (GRA_Lanczos; alg/gdalwarpkernel.cpp GWKLanczosSinc)."""
    ax = np.abs(x)
    out = np.where(
        ax < 1e-12, 1.0,
        np.where(ax < 3.0, np.sinc(x) * np.sinc(x / 3.0), 0.0),
    )
    return out


def _bspline_weight(x):
    """Cubic B-spline (GRA_CubicSpline; alg/gdalwarpkernel.cpp:3817
    GWKBSpline): sum of clipped cubics; the reference's 1/6 factor is
    omitted there too — per-pixel normalization cancels any constant."""
    ax = np.abs(x)
    inner = (2.0 - ax) ** 3 - 4.0 * np.maximum(1.0 - ax, 0.0) ** 3
    return np.where(ax < 2.0, np.maximum(inner, 0.0), 0.0)


_KERNELS = {
    "cubic": (_cubic_weight, 2),
    "lanczos": (_lanczos_weight, 3),
    "cubicspline": (_bspline_weight, 2),
}


def _convolve_axis(src, out_n, axis, kernel, radius):
    """Separable 1-D convolution resize along ``axis`` (pixel-center space,
    edge clamp, per-pixel weight normalization — GDAL normalizes partial
    kernels at edges)."""
    src_n = src.shape[axis]
    scale = src_n / float(out_n)
    # when downsampling, widen the kernel by the scale (GDAL warp does)
    ksc = max(scale, 1.0)
    centers = (np.arange(out_n) + 0.5) * scale - 0.5
    half = int(np.ceil(radius * ksc))
    offs = np.arange(-half, half + 1)
    idx = np.floor(centers)[:, None] + offs[None, :]
    w = kernel((idx - centers[:, None]) / ksc)
    w = w / w.sum(axis=1, keepdims=True)
    idx = np.clip(idx, 0, src_n - 1).astype(np.int64)
    moved = np.moveaxis(np.asarray(src, dtype=np.float64), axis, 0)
    gathered = moved[idx]  # (out_n, ktaps, ...)
    out = np.einsum("ok,ok...->o...", w, gathered)
    return np.moveaxis(out, 0, axis)


def resample_convolve(src, out_h, out_w, method="cubic"):
    """Cubic (Catmull-Rom) / Lanczos separable resize matching the warp
    kernel conventions; integer inputs round half-up and clip."""
    kernel, radius = _KERNELS[method]
    src_arr = np.asarray(src)
    out = _convolve_axis(src_arr, out_h, 0, kernel, radius)
    out = _convolve_axis(out, out_w, 1, kernel, radius)
    if np.issubdtype(src_arr.dtype, np.integer):
        info = np.iinfo(src_arr.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(src_arr.dtype)
    return out.astype(src_arr.dtype)


def _box_slices(out_n, src_n):
    edges = (np.arange(out_n + 1) * src_n / out_n)
    lo = np.floor(edges[:-1] + 1e-9).astype(np.int64)
    hi = np.maximum(np.ceil(edges[1:] - 1e-9).astype(np.int64), lo + 1)
    return lo, np.minimum(hi, src_n)


def _shape_groups(ylo, yhi, xlo, xhi):
    """Group destination cells by their (dy, dx) source-box shape.

    Ragged (non-integer-factor) grids produce at most a handful of
    distinct box shapes, so per-shape fancy-indexed gathers replace the
    per-cell Python loop: yields (rs, cs, yidx (nr, dy), xidx (nc, dx))
    per shape — each (row-group x col-group) cross product shares one
    uniform block shape."""
    dy = yhi - ylo
    dx = xhi - xlo
    for a in np.unique(dy):
        rs = np.nonzero(dy == a)[0]
        yidx = ylo[rs][:, None] + np.arange(a)
        for b in np.unique(dx):
            cs = np.nonzero(dx == b)[0]
            xidx = xlo[cs][:, None] + np.arange(b)
            yield rs, cs, yidx, xidx


def resample_average(src, out_h, out_w):
    """Area-average downsample (GRA_Average, alg/gdalwarpkernel.cpp:194 /
    overview AverageOrRMS): mean of the source pixels covered by each
    destination cell. Integer inputs round half-up.  Vectorized by box
    shape (uint8 sums are exact in float64, so the grouped reduction is
    bit-identical to the per-cell mean)."""
    src_arr = np.asarray(src)
    ylo, yhi = _box_slices(out_h, src_arr.shape[0])
    xlo, xhi = _box_slices(out_w, src_arr.shape[1])
    out = np.empty((out_h, out_w) + src_arr.shape[2:], dtype=np.float64)
    for rs, cs, yidx, xidx in _shape_groups(ylo, yhi, xlo, xhi):
        blocks = src_arr[yidx[:, None, :, None], xidx[None, :, None, :]]
        out[np.ix_(rs, cs)] = blocks.astype(np.float64).mean(axis=(2, 3))
    if np.issubdtype(src_arr.dtype, np.integer):
        info = np.iinfo(src_arr.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(src_arr.dtype)
    return out.astype(src_arr.dtype)


def _round_int(out, dtype):
    if np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(dtype)
    return out.astype(dtype)


def resample_stat(src, out_h, out_w, stat: str):
    """Box-statistic downsample kernels GRA_Min/Max/Med/Q1/Q3/Sum/RMS
    (alg/gdalwarpkernel.cpp:102-136 enum; GWKAverageOrModeThread impl):

    * min/max/sum: reduction over the source pixels covered by each
      destination cell (sum is the whole-pixel-coverage case of the
      sum-preserving kernel);
    * rms: sqrt(mean of squares) (gdalwarpkernel.cpp:8032-8075);
    * med/q1/q3: sorted-pick quantile with the reference's exact index rule
      ``ceil(q * n - 1)`` — no interpolation (gdalwarpkernel.cpp:8337-8341).

    Even-factor grids reduce fully vectorized (reshape blocks); ragged
    grids fall back to the per-cell loop.
    """
    src_arr = np.asarray(src)
    h, w = src_arr.shape[0], src_arr.shape[1]
    quant = {"med": 0.5, "q1": 0.25, "q3": 0.75}.get(stat)

    def reduce_block(block):
        # block axes: (..., k) with k = pixels of one destination cell
        if stat == "min":
            return block.min(axis=-1)
        if stat == "max":
            return block.max(axis=-1)
        if stat == "sum":
            return block.astype(np.float64).sum(axis=-1)
        if stat == "rms":
            b = block.astype(np.float64)
            return np.sqrt((b * b).mean(axis=-1))
        n = block.shape[-1]
        qi = int(np.ceil(quant * n - 1))
        return np.sort(block, axis=-1)[..., max(qi, 0)]

    if h % out_h == 0 and w % out_w == 0:
        fy, fx = h // out_h, w // out_w
        if src_arr.ndim == 3:
            blocks = (
                src_arr.reshape(out_h, fy, out_w, fx, src_arr.shape[2])
                .transpose(0, 2, 4, 1, 3)
                .reshape(out_h, out_w, src_arr.shape[2], fy * fx)
            )
        else:
            blocks = (
                src_arr.reshape(out_h, fy, out_w, fx)
                .transpose(0, 2, 1, 3)
                .reshape(out_h, out_w, fy * fx)
            )
        out = reduce_block(blocks)
    else:
        # ragged factors: vectorize by box shape — each (row-group x
        # col-group) shares a uniform (dy, dx), so one fancy-indexed
        # gather + one reduction per shape replaces the per-cell loop
        ylo, yhi = _box_slices(out_h, h)
        xlo, xhi = _box_slices(out_w, w)
        out = np.empty((out_h, out_w) + src_arr.shape[2:], dtype=np.float64)
        for rs, cs, yidx, xidx in _shape_groups(ylo, yhi, xlo, xhi):
            blocks = src_arr[yidx[:, None, :, None], xidx[None, :, None, :]]
            k = blocks.shape[2] * blocks.shape[3]
            if src_arr.ndim == 3:
                flat = blocks.transpose(0, 1, 4, 2, 3).reshape(
                    blocks.shape[0], blocks.shape[1], blocks.shape[4], k)
            else:
                flat = blocks.reshape(blocks.shape[0], blocks.shape[1], k)
            out[np.ix_(rs, cs)] = reduce_block(flat)

    if stat in ("min", "max") or quant is not None:
        return out.astype(src_arr.dtype)  # picked source values: exact
    if stat == "sum":
        if np.issubdtype(src_arr.dtype, np.integer):
            info = np.iinfo(src_arr.dtype)
            return np.clip(out, info.min, info.max).astype(src_arr.dtype)
        return out.astype(src_arr.dtype)
    return _round_int(out, src_arr.dtype)  # rms


STAT_KERNELS = ("min", "max", "med", "q1", "q3", "sum", "rms")


def resample_mode(src, out_h, out_w):
    """Mode downsample (GRA_Mode): most frequent value in each destination
    cell; ties -> smallest value (deterministic)."""
    src_arr = np.asarray(src)
    if src_arr.ndim == 3:
        return np.stack(
            [resample_mode(src_arr[:, :, c], out_h, out_w)
             for c in range(src_arr.shape[2])],
            axis=2,
        )
    ylo, yhi = _box_slices(out_h, src_arr.shape[0])
    xlo, xhi = _box_slices(out_w, src_arr.shape[1])
    out = np.empty((out_h, out_w), dtype=src_arr.dtype)
    if src_arr.dtype == np.uint8:
        # vectorized histogram mode: fuse (cell, value) into one bincount
        # key per shape group; argmax over the 256 columns returns the
        # FIRST (= smallest) value on ties, matching the unique/argmax rule
        for rs, cs, yidx, xidx in _shape_groups(ylo, yhi, xlo, xhi):
            blocks = src_arr[yidx[:, None, :, None], xidx[None, :, None, :]]
            nr, nc = blocks.shape[0], blocks.shape[1]
            flat = blocks.reshape(nr * nc, -1).astype(np.int64)
            keys = (np.arange(nr * nc)[:, None] * 256 + flat).ravel()
            hist = np.bincount(keys, minlength=nr * nc * 256)
            mode = hist.reshape(nr * nc, 256).argmax(axis=1)
            out[np.ix_(rs, cs)] = mode.reshape(nr, nc).astype(src_arr.dtype)
        return out
    # general dtype: dense-rank encode the whole array once (np.unique
    # sorts ascending, so rank order == value order), then run the same
    # fused (cell, rank) bincount as the uint8 path per shape group;
    # argmax over ranks returns the smallest value on ties, matching the
    # per-cell unique/argmax rule. Cell rows are chunked so the histogram
    # table stays bounded regardless of the value cardinality k.
    vals, inv = np.unique(src_arr, return_inverse=True)
    ranks = inv.reshape(src_arr.shape).astype(np.int64)
    k = max(int(vals.shape[0]), 1)
    for rs, cs, yidx, xidx in _shape_groups(ylo, yhi, xlo, xhi):
        blocks = ranks[yidx[:, None, :, None], xidx[None, :, None, :]]
        nr, nc = blocks.shape[0], blocks.shape[1]
        flat = blocks.reshape(nr * nc, -1)
        step = max(1, (1 << 24) // k)
        modes = np.empty(nr * nc, dtype=np.int64)
        for i in range(0, nr * nc, step):
            chunk = flat[i : i + step]
            m = chunk.shape[0]
            keys = (np.arange(m)[:, None] * k + chunk).ravel()
            hist = np.bincount(keys, minlength=m * k)
            modes[i : i + m] = hist.reshape(m, k).argmax(axis=1)
        out[np.ix_(rs, cs)] = vals[modes].reshape(nr, nc).astype(src_arr.dtype)
    return out


# querysize multiplier per method, after gdal2tiles options_post_processing
# (near -> tile, bilinear -> 2x, everything else reads a 4x canvas)
QUERYSIZE_FACTOR = {"nearest": 1, "bilinear": 2, "cubic": 4, "lanczos": 4,
                    "cubicspline": 4, "average": 4, "mode": 4,
                    **{k: 4 for k in STAT_KERNELS}}


def scale_to_tile(window, tile_size=256, method="nearest"):
    """Resize an extracted source window to a tile_size² tile —
    the role of gdal2tiles' ``scale_query_to_tile`` (gdal2tiles.py:838-932).
    Full warp-kernel set (alg/gdalwarper.h:37-67): near, bilinear, cubic,
    cubicspline, lanczos, average, mode, min, max, med, q1, q3, sum, rms."""
    if method == "nearest":
        return resample_nearest(window, tile_size, tile_size)
    if method == "bilinear":
        return resample_bilinear(window, tile_size, tile_size)
    if method in _KERNELS:
        return resample_convolve(window, tile_size, tile_size, method)
    if method == "average":
        return resample_average(window, tile_size, tile_size)
    if method == "mode":
        return resample_mode(window, tile_size, tile_size)
    if method in STAT_KERNELS:
        return resample_stat(window, tile_size, tile_size, method)
    raise ValueError(f"unsupported resampling {method!r}")


def psnr(a, b, peak=255.0):
    """Peak signal-to-noise ratio in dB (inf for identical arrays)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)
