"""Contour (marching squares) + FillNodata — numpy kernels.

* contour: iso-line segments at given levels via the classic 16-case
  marching-squares walk over 2x2 pixel-center cells with linear edge
  interpolation — semantics of the reference's contour engine
  (/root/reference/alg/contour.cpp + alg/marching_squares/*.h), which
  builds segments per cell from level crossings. v0 emits segments (and
  per-level totals); ring assembly/stitching is a later phase, matching
  how the reference accumulates segments before merging.
* fill_nodata: inverse-distance-weighted fill of masked holes from valid
  pixels within a search radius — GDALFillNodata semantics
  (/root/reference/alg/rasterfill.cpp: IDW over nearest valid pixels,
  optional smoothing iterations).
"""

from __future__ import annotations

import numpy as np


# 16-case edge table (alg/marching_squares/segment_merger.h case layout);
# cases 5 and 10 are the two-segment saddles
_CASE_EDGES = {
    1: (("left", "bottom"),), 2: (("bottom", "right"),),
    3: (("left", "right"),), 4: (("top", "right"),),
    5: (("left", "top"), ("bottom", "right")), 6: (("top", "bottom"),),
    7: (("left", "top"),), 8: (("left", "top"),), 9: (("top", "bottom"),),
    10: (("left", "bottom"), ("top", "right")), 11: (("top", "right"),),
    12: (("left", "right"),), 13: (("bottom", "right"),),
    14: (("left", "bottom"),),
}


def contour_segments(band, levels):
    """Marching squares over pixel centers, case-mask vectorized (one
    nonzero + gather per case value instead of a per-cell Python loop —
    same doubles as the scalar walk: edge parameter t = (L-v1)/(v2-v1),
    endpoint = corner + t along the edge axis).  Returns list of
    (level, x1, y1, x2, y2) in pixel-center coordinates, row-major per
    level (same order as the original scalar walk)."""
    a = np.asarray(band, dtype=np.float64)
    segs = []
    for level in levels:
        inside = a >= level
        tl = inside[:-1, :-1]
        tr = inside[:-1, 1:]
        br = inside[1:, 1:]
        bl = inside[1:, :-1]
        case = ((tl.astype(np.uint8) << 3) | (tr.astype(np.uint8) << 2)
                | (br.astype(np.uint8) << 1) | bl.astype(np.uint8))
        vtl = a[:-1, :-1]
        vtr = a[:-1, 1:]
        vbr = a[1:, 1:]
        vbl = a[1:, :-1]

        parts = []  # (r, c, j, x1, y1, x2, y2) column stacks
        for k, pairs in _CASE_EDGES.items():
            rr, cc = np.nonzero(case == k)
            if rr.size == 0:
                continue
            rf = rr.astype(np.float64)
            cf = cc.astype(np.float64)

            def edge(name):
                if name == "top":
                    t = (level - vtl[rr, cc]) / (vtr[rr, cc] - vtl[rr, cc])
                    return cf + t, rf
                if name == "right":
                    t = (level - vtr[rr, cc]) / (vbr[rr, cc] - vtr[rr, cc])
                    return cf + 1.0, rf + t
                if name == "bottom":
                    t = (level - vbl[rr, cc]) / (vbr[rr, cc] - vbl[rr, cc])
                    return cf + t, rf + 1.0
                t = (level - vtl[rr, cc]) / (vbl[rr, cc] - vtl[rr, cc])
                return cf, rf + t

            for j, (e1, e2) in enumerate(pairs):
                x1, y1 = edge(e1)
                x2, y2 = edge(e2)
                parts.append((rr, cc, np.full(rr.size, j, np.int64),
                              x1, y1, x2, y2))
        if not parts:
            continue
        r_all = np.concatenate([p[0] for p in parts])
        c_all = np.concatenate([p[1] for p in parts])
        j_all = np.concatenate([p[2] for p in parts])
        order = np.lexsort((j_all, c_all, r_all))
        cols = [np.concatenate([p[i] for p in parts])[order]
                for i in (3, 4, 5, 6)]
        lv = float(level)
        segs.extend(
            (lv, x1, y1, x2, y2)
            for x1, y1, x2, y2 in zip(*(c.tolist() for c in cols))
        )
    return segs


def contour_polylines(band, levels):
    """Chain marching-squares segments into iso-polylines per level — the
    reference's segment-merge phase (alg/contour.cpp SegmentMerger /
    alg/marching_squares ring assembly). Returns {level: [ (N,2) arrays ]}
    with (x, y) pixel-center coordinates; closed rings repeat their first
    point. Endpoints join on 1e-9-quantized coordinates."""
    segs = contour_segments(band, levels)
    out = {}
    by_level = {}
    for lv, x1, y1, x2, y2 in segs:
        by_level.setdefault(lv, []).append(((x1, y1), (x2, y2)))

    def key(p):
        return (round(p[0] * 1e9), round(p[1] * 1e9))

    for lv, pairs in by_level.items():
        adj = {}
        for i, (a, b) in enumerate(pairs):
            adj.setdefault(key(a), []).append((i, b))
            adj.setdefault(key(b), []).append((i, a))
        used = [False] * len(pairs)
        lines = []
        for start_i, (pa, pb) in enumerate(pairs):
            if used[start_i]:
                continue
            used[start_i] = True
            # grow both directions from the seed segment
            line = [pa, pb]
            for end in (1, 0):
                while True:
                    k = key(line[-1] if end else line[0])
                    nxt = None
                    for i, other in adj.get(k, ()):
                        if not used[i]:
                            nxt = (i, other)
                            break
                    if nxt is None:
                        break
                    used[nxt[0]] = True
                    if end:
                        line.append(nxt[1])
                    else:
                        line.insert(0, nxt[1])
            lines.append(np.asarray(line, dtype=np.float64))
        out[lv] = lines
    return out


def _interior_point(ring: np.ndarray):
    """A point strictly inside a simple ring (GEOS PointOnSurface shape):
    crossings of the scanline through the bbox-center y, midpoint of the
    widest span."""
    ys = ring[:, 1]
    yc = (ys.min() + ys.max()) / 2.0
    y1, y2 = ring[:-1, 1], ring[1:, 1]
    m = ((y1 <= yc) & (y2 > yc)) | ((y2 <= yc) & (y1 > yc))
    if not m.any():
        yc = np.nextafter(yc, ys.max())
        m = ((y1 <= yc) & (y2 > yc)) | ((y2 <= yc) & (y1 > yc))
        if not m.any():
            return float(ring[:, 0].mean()), float(ring[:, 1].mean())
    t = (yc - y1[m]) / (y2[m] - y1[m])
    xi = np.sort(ring[:-1, 0][m] + t * (ring[1:, 0][m] - ring[:-1, 0][m]))
    spans = xi[1::2] - xi[0:-1:2] if len(xi) >= 2 else np.array([0.0])
    k = int(np.argmax(spans))
    return float((xi[2 * k] + xi[2 * k + 1]) / 2.0), float(yc)


def _ring_contains(ring: np.ndarray, pt) -> bool:
    x, y = pt
    y1, y2 = ring[:-1, 1], ring[1:, 1]
    x1, x2 = ring[:-1, 0], ring[1:, 0]
    m = ((y1 <= y) & (y2 > y)) | ((y2 <= y) & (y1 > y))
    if not m.any():
        return False
    xi = x1[m] + (y - y1[m]) / (y2[m] - y1[m]) * (x2[m] - x1[m])
    return bool((xi > x).sum() % 2 == 1)


def _closed_iso_rings(band, level):
    """Closed iso-rings of {v >= level} over the grid padded with a
    below-level ring, coordinates CLAMPED to the pixel-edge box
    [-0.5, n-0.5] — the reference's border closure for `gdal_contour -p`
    (alg/marching_squares/polygon_ring_appender.h): interval polygons
    extend to the raster's full georeferenced extent."""
    a = np.asarray(band, dtype=np.float64)
    h, w = a.shape
    pad = min(float(level) - 1.0, float(a.min()) - 1.0)
    ap = np.full((h + 2, w + 2), pad)
    ap[1:-1, 1:-1] = a
    rings = []
    for line in contour_polylines(ap, [float(level)])[float(level)]:
        pts = line - 1.0  # un-pad
        if len(pts) < 4:
            continue
        if abs(pts[0, 0] - pts[-1, 0]) > 1e-9 or \
                abs(pts[0, 1] - pts[-1, 1]) > 1e-9:
            pts = np.vstack([pts, pts[:1]])
        # clamp to the pixel-EDGE box [-0.5, n-0.5] — the raster's full
        # georeferenced extent, matching gdal_contour's border closure
        # (the round-3a pixel-center inset removed)
        pts[:, 0] = np.clip(pts[:, 0], -0.5, w - 0.5)
        pts[:, 1] = np.clip(pts[:, 1], -0.5, h - 0.5)
        # drop rings collapsed by the clamp
        area = 0.5 * abs(np.sum(
            pts[:-1, 0] * pts[1:, 1] - pts[1:, 0] * pts[:-1, 1]))
        if area > 1e-12:
            rings.append(pts)
    return rings


def contour_band_polygons(band, lo, hi):
    """`gdal_contour -p` interval polygons from MARCHING-SQUARES iso-lines
    (alg/contour.cpp polygon mode): the band {lo <= v < hi} is bounded by
    the interpolated lo-contour, the interpolated hi-contour, and the
    raster border.  Rings from both levels are NESTED by containment depth
    (even depth -> polygon outer, odd -> hole), the
    polygon_ring_appender.h assembly.  Returns list of polygons
    [outer, hole, ...] in pixel-center (x, y) coordinates."""
    a = np.asarray(band, dtype=np.float64)
    h, w = a.shape
    if np.isneginf(lo):
        box = np.array([[-0.5, -0.5], [w - 0.5, -0.5], [w - 0.5, h - 0.5],
                        [-0.5, h - 0.5], [-0.5, -0.5]])
        rings = [] if (h < 2 or w < 2) else [box]
    else:
        rings = _closed_iso_rings(a, lo)
    if not np.isposinf(hi):
        rings += _closed_iso_rings(a, hi)

    if not rings:
        return []
    areas = [0.5 * abs(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]))
             for r in rings]
    order = np.argsort(areas)[::-1]
    depth = {}
    for idx_pos, i in enumerate(order):
        pt = _interior_point(rings[i])
        d = 0
        # smallest enclosing ring among larger ones determines depth
        best = None
        for j in order[:idx_pos]:
            if _ring_contains(rings[j], pt):
                if best is None or areas[j] < areas[best]:
                    best = j
        d = 0 if best is None else depth[best] + 1
        depth[i] = d
    polys = []
    outer_slot = {}
    for i in order:
        if depth[i] % 2 == 0:
            outer_slot[i] = len(polys)
            polys.append([rings[i]])
    for idx_pos, i in enumerate(order):
        if depth[i] % 2 == 1:
            pt = _interior_point(rings[i])
            best = None
            for j in order[:idx_pos]:
                if depth[j] == depth[i] - 1 and _ring_contains(rings[j], pt):
                    if best is None or areas[j] < areas[best]:
                        best = j
            if best is not None:
                polys[outer_slot[best]].append(rings[i])
    return polys


def contour_summary(band, levels):
    """Per-level (n_segments, total_length) — the tabular contour output."""
    segs = contour_segments(band, levels)
    out = {}
    for lv, x1, y1, x2, y2 in segs:
        n, ln = out.get(lv, (0, 0.0))
        out[lv] = (n + 1, ln + float(np.hypot(x2 - x1, y2 - y1)))
    return out


def fill_nodata(band, mask, max_distance: int = 16,
                smoothing_iterations: int = 0):
    """Fill ``mask`` (True = nodata) pixels with the inverse-distance
    weighted mean of valid pixels within ``max_distance`` (chebyshev
    window), the GDALFillNodata IDW core. Pixels with no valid neighbor in
    range stay unchanged.

    ``smoothing_iterations`` applies the reference's -si post-pass
    (GDALMultiFilter, alg/rasterfill.cpp:126): each iteration replaces
    every FILLED pixel with the plain 3x3 average of all pixels that
    carry a value (original + filled; out-of-range unfilled pixels
    neither change nor contribute) — original data pixels never change."""
    a = np.asarray(band, dtype=np.float64).copy()
    m = np.asarray(mask, dtype=bool)
    h, w = a.shape
    ys, xs = np.nonzero(m)
    vy, vx = np.nonzero(~m)
    if vy.size == 0 or ys.size == 0:
        return a
    filled = np.zeros((h, w), dtype=bool)
    for y, x in zip(ys, xs):
        y0, y1 = max(0, y - max_distance), min(h, y + max_distance + 1)
        x0, x1 = max(0, x - max_distance), min(w, x + max_distance + 1)
        sub = ~m[y0:y1, x0:x1]
        if not sub.any():
            continue
        syy, sxx = np.nonzero(sub)
        d2 = (syy + y0 - y) ** 2 + (sxx + x0 - x) ** 2
        wgt = 1.0 / d2
        a[y, x] = (wgt * a[y0:y1, x0:x1][syy, sxx]).sum() / wgt.sum()
        filled[y, x] = True
    if smoothing_iterations > 0 and filled.any():
        has_val = ~m | filled  # TargetMask: original valid + filled
        for _ in range(smoothing_iterations):
            vals = np.where(has_val, a, 0.0)
            cnt = has_val.astype(np.float64)
            ssum = np.zeros_like(a)
            scnt = np.zeros_like(a)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    ys0, ys1 = max(0, -dy), min(h, h - dy)
                    xs0, xs1 = max(0, -dx), min(w, w - dx)
                    ssum[ys0:ys1, xs0:xs1] += vals[ys0 + dy:ys1 + dy,
                                                   xs0 + dx:xs1 + dx]
                    scnt[ys0:ys1, xs0:xs1] += cnt[ys0 + dy:ys1 + dy,
                                                  xs0 + dx:xs1 + dx]
            upd = filled & (scnt > 0)
            a[upd] = ssum[upd] / scnt[upd]
    return a
