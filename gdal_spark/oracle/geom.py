"""General WKB geometry kernel — numpy, no GEOS/shapely in this environment.

Round-2 generalization beyond the rectangle/point domain: parses and writes
ISO WKB Point/LineString/Polygon-with-holes/MultiPoint/MultiLineString/
MultiPolygon, and implements the measure / predicate / overlay surface the
reference exposes through GEOS:

* measures: area (holes subtracted), length, perimeter, centroid, bbox —
  semantics of OGRGeometry::get_Area/get_Length/Centroid
  (/root/reference/ogr/ogr_geometry.h:559-606, ogr/ogrgeometry.cpp);
* point-in-polygon with holes: even-odd ray cast XORed across rings (the
  OGRLinearRing::isPointInRing rule, /root/reference/ogr/ogrlinearring.cpp:452-517,
  applied per ring — a point inside an odd number of rings is interior);
* segment intersection, used by the line/line and boundary predicates;
* the 8 OGC predicates Intersects/Equals/Disjoint/Touches/Crosses/Within/
  Contains/Overlaps (decl /root/reference/ogr/ogr_geometry.h:546-556) for the
  point x line x polygon domain (polygon overlay predicates are exact for
  convex polygons, envelope+boundary based otherwise — documented per fn);
* convex overlay: Sutherland-Hodgman clip (intersection), half-plane
  decomposition subtract (erase) — the layer-algebra kernels
  (OGRLayer::Intersection/Erase, /root/reference/ogr/ogrsf_frmts/generic/
  ogrlayer.cpp:5385,7846);
* constructions: convex hull (monotone chain), Douglas-Peucker simplify,
  polygon/point buffer (round joins as 8-segment-per-quadrant arcs, the
  GEOS default), make_valid (close/orient rings);
* geodesic area/length on lon/lat degrees — spherical formulas on the
  authalic radius (the reference links GeographicLib for exact ellipsoidal
  values, /root/reference/ogr/ogrsqlitesqlfunctions.cpp:627-675; sphere vs
  WGS84 ellipsoid differs < 0.3%, documented).

Geometries are represented parsed as ``(kind, data)``:
  ("point", (2,) array) | ("multipoint", (N,2) array)
  ("linestring", (N,2) array) | ("multilinestring", [ (N,2) array, ...])
  ("polygon", [ring, ...])  rings closed (first == last), ring[0] outer
  ("multipolygon", [[ring, ...], ...])
"""

from __future__ import annotations

import struct

import numpy as np

from .pip import point_in_ring

_EPS = 1e-9


# ---------------------------------------------------------------------------
# WKB parse / write
# ---------------------------------------------------------------------------

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6

KIND_OF = {
    WKB_POINT: "point", WKB_LINESTRING: "linestring", WKB_POLYGON: "polygon",
    WKB_MULTIPOINT: "multipoint", WKB_MULTILINESTRING: "multilinestring",
    WKB_MULTIPOLYGON: "multipolygon",
}
CODE_OF = {v: k for k, v in KIND_OF.items()}


WKB_CIRCULARSTRING = 8
WKB_COMPOUNDCURVE = 9
WKB_CURVEPOLYGON = 10
WKB_MULTICURVE = 11
WKB_MULTISURFACE = 12
WKB_POLYHEDRALSURFACE = 15
WKB_TIN = 16
WKB_TRIANGLE = 17

# OGRGeometryFactory::curveToLineString default arc step
# (ogr/ogrgeometryfactory.cpp, MAX_ANGLE_STEP_SIZE_DEGREES / OGR_ARC_STEPSIZE)
ARC_STEP_DEG = 4.0


def _read_points(data: bytes, off: int, ndim: int = 2) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", data, off)
    pts = np.frombuffer(data, dtype="<f8", count=n * ndim, offset=off + 4)
    return (pts.reshape(n, ndim)[:, :2].astype(np.float64),
            off + 4 + 8 * ndim * n)


def _stroke_arc(p0, p1, p2, step_deg: float = ARC_STEP_DEG) -> np.ndarray:
    """Stroke one circular arc through three points into line segments —
    OGRGeometryFactory::approximateArcAngles semantics
    (ogr/ogrgeometryfactory.cpp): ≤ ``step_deg`` per segment, endpoints
    exact.  Collinear triplets degrade to the two straight segments."""
    ax, ay = p0
    bx, by = p1
    cx, cy = p2
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if abs(d) < 1e-12 * max(1.0, abs(ax), abs(ay), abs(bx), abs(by)):
        return np.array([p0, p1, p2], dtype=np.float64)
    ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
          + (cx * cx + cy * cy) * (ay - by)) / d
    uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
          + (cx * cx + cy * cy) * (bx - ax)) / d
    th0 = np.arctan2(ay - uy, ax - ux)
    th1 = np.arctan2(by - uy, bx - ux)
    th2 = np.arctan2(cy - uy, cx - ux)
    two_pi = 2.0 * np.pi
    ccw1 = (th1 - th0) % two_pi
    ccw2 = (th2 - th0) % two_pi
    if ccw1 <= ccw2:   # midpoint reached going CCW -> CCW sweep
        sweep = ccw2 if ccw2 > 0 else two_pi
    else:              # CW sweep
        sweep = -(((th0 - th2) % two_pi) or two_pi)
    nseg = max(int(np.ceil(abs(sweep) / np.deg2rad(step_deg))), 2)
    th = th0 + sweep * np.arange(nseg + 1) / nseg
    r = np.hypot(ax - ux, ay - uy)
    out = np.stack([ux + r * np.cos(th), uy + r * np.sin(th)], axis=1)
    out[0] = p0
    out[-1] = p2
    return out


def _stroke_circularstring(pts: np.ndarray) -> np.ndarray:
    """CircularString point list (arc triplets sharing endpoints) -> stroked
    linestring."""
    if len(pts) < 3:
        return pts
    segs = [pts[:1]]
    for i in range(0, len(pts) - 2, 2):
        arc = _stroke_arc(pts[i], pts[i + 1], pts[i + 2])
        segs.append(arc[1:])
    return np.vstack(segs)


def _as_path(g) -> np.ndarray:
    """Parsed curve component -> point path (for CompoundCurve chaining)."""
    kind, d = g
    if kind == "linestring":
        return d
    raise ValueError(f"curve component of kind {kind!r}")


def _parse_at(data: bytes, off: int):
    byte_order, raw = struct.unpack_from("<BI", data, off)
    if byte_order != 1:
        raise ValueError("big-endian WKB unsupported")
    # ISO (base + 1000z + 2000m) and PostGIS EWKB (flag bits) variants both
    # accepted; Z/M ordinates parsed and DROPPED (2-D engine) — the
    # ogr_core.h:426-512 type table.
    has_z = bool(raw & 0x80000000)
    has_m = bool(raw & 0x40000000)
    has_srid = bool(raw & 0x20000000)
    gtype = raw & 0x1FFFFFFF
    if gtype >= 1000:
        iso = gtype // 1000
        has_z = has_z or iso in (1, 3)
        has_m = has_m or iso in (2, 3)
        gtype = gtype % 1000
    ndim = 2 + int(has_z) + int(has_m)
    off += 5
    if has_srid:
        off += 4
    if gtype == WKB_POINT:
        vals = struct.unpack_from(f"<{ndim}d", data, off)
        return ("point", np.array(vals[:2])), off + 8 * ndim
    if gtype == WKB_LINESTRING:
        pts, off = _read_points(data, off, ndim)
        return ("linestring", pts), off
    if gtype == WKB_CIRCULARSTRING:
        pts, off = _read_points(data, off, ndim)
        return ("linestring", _stroke_circularstring(pts)), off
    if gtype == WKB_COMPOUNDCURVE:
        (n,) = struct.unpack_from("<I", data, off)
        off += 4
        path = []
        for i in range(n):
            g, off = _parse_at(data, off)
            p = _as_path(g)
            path.append(p if i == 0 else p[1:])
        return ("linestring",
                np.vstack(path) if path else np.empty((0, 2))), off
    if gtype in (WKB_POLYGON, WKB_TRIANGLE):
        (nrings,) = struct.unpack_from("<I", data, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_points(data, off, ndim)
            rings.append(ring)
        return ("polygon", rings), off
    if gtype == WKB_CURVEPOLYGON:
        (nrings,) = struct.unpack_from("<I", data, off)
        off += 4
        rings = []
        for _ in range(nrings):
            g, off = _parse_at(data, off)
            rings.append(_as_path(g))
        return ("polygon", rings), off
    if gtype in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON,
                 WKB_MULTICURVE, WKB_MULTISURFACE, WKB_POLYHEDRALSURFACE,
                 WKB_TIN):
        (n,) = struct.unpack_from("<I", data, off)
        off += 4
        parts = []
        for _ in range(n):
            (k, d), off = _parse_at(data, off)
            parts.append(d)
        if gtype == WKB_MULTIPOINT:
            arr = (np.vstack([p.reshape(1, 2) for p in parts])
                   if parts else np.empty((0, 2)))
            return ("multipoint", arr), off
        if gtype in (WKB_MULTILINESTRING, WKB_MULTICURVE):
            return ("multilinestring", parts), off
        return ("multipolygon", parts), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_wkb(data: bytes):
    """WKB blob -> (kind, data)."""
    g, _ = _parse_at(bytes(data), 0)
    return g


def _pack_points(pts: np.ndarray) -> bytes:
    pts = np.ascontiguousarray(pts, dtype="<f8")
    return struct.pack("<I", pts.shape[0]) + pts.tobytes()


def to_wkb(kind: str, data) -> bytes:
    code = CODE_OF[kind]
    head = struct.pack("<BI", 1, code)
    if kind == "point":
        return head + struct.pack("<dd", float(data[0]), float(data[1]))
    if kind == "linestring":
        return head + _pack_points(np.asarray(data))
    if kind == "polygon":
        out = [head, struct.pack("<I", len(data))]
        out += [_pack_points(np.asarray(r)) for r in data]
        return b"".join(out)
    if kind == "multipoint":
        pts = np.asarray(data).reshape(-1, 2)
        return (head + struct.pack("<I", pts.shape[0])
                + b"".join(to_wkb("point", p) for p in pts))
    if kind == "multilinestring":
        return (head + struct.pack("<I", len(data))
                + b"".join(to_wkb("linestring", p) for p in data))
    if kind == "multipolygon":
        return (head + struct.pack("<I", len(data))
                + b"".join(to_wkb("polygon", p) for p in data))
    raise ValueError(kind)


def wkb_point(x: float, y: float) -> bytes:
    return to_wkb("point", (x, y))


# ---------------------------------------------------------------------------
# Measures
# ---------------------------------------------------------------------------

def _ring_signed_area(ring: np.ndarray) -> float:
    # translate to the first vertex before the cross products: the shoelace
    # is translation-invariant, and centering kills the catastrophic
    # cancellation that absolute EPSG:3857 coords (~1e7) otherwise cause
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    return float(0.5 * (np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))


def area(g) -> float:
    """Planar area; polygon = |outer| - sum |holes|; multis sum."""
    kind, d = g
    if kind == "polygon":
        if not d:
            return 0.0
        a = abs(_ring_signed_area(d[0]))
        return a - sum(abs(_ring_signed_area(r)) for r in d[1:])
    if kind == "multipolygon":
        return sum(area(("polygon", p)) for p in d)
    return 0.0


def _path_length(pts: np.ndarray) -> float:
    if pts.shape[0] < 2:
        return 0.0
    seg = np.diff(pts, axis=0)
    return float(np.hypot(seg[:, 0], seg[:, 1]).sum())


def length(g) -> float:
    """Curve length: (multi)linestrings only, 0 for points/surfaces —
    OGR_G_Length semantics (curves; surfaces report 0)."""
    kind, d = g
    if kind == "linestring":
        return _path_length(d)
    if kind == "multilinestring":
        return sum(_path_length(p) for p in d)
    return 0.0


def perimeter(g) -> float:
    kind, d = g
    if kind == "polygon":
        return sum(_path_length(r) for r in d)
    if kind == "multipolygon":
        return sum(perimeter(("polygon", p)) for p in d)
    return 0.0


def bbox(g) -> tuple[float, float, float, float]:
    kind, d = g
    if kind == "point":
        return float(d[0]), float(d[1]), float(d[0]), float(d[1])
    if kind in ("linestring", "multipoint"):
        arr = np.asarray(d)
    elif kind == "polygon":
        arr = np.vstack(d) if d else np.empty((0, 2))
    elif kind == "multilinestring":
        arr = np.vstack(d) if d else np.empty((0, 2))
    else:  # multipolygon
        arr = (np.vstack([np.vstack(p) for p in d if p])
               if d else np.empty((0, 2)))
    if arr.shape[0] == 0:
        return (np.nan,) * 4
    return (float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()))


def centroid(g):
    """Area centroid for polygons (holes respected via signed areas),
    length-weighted for lines, mean for points. Returns (x, y)."""
    kind, d = g
    if kind == "point":
        return float(d[0]), float(d[1])
    if kind == "multipoint":
        return float(d[:, 0].mean()), float(d[:, 1].mean())
    if kind in ("linestring", "multilinestring"):
        parts = [d] if kind == "linestring" else d
        tot_l, cx, cy = 0.0, 0.0, 0.0
        for pts in parts:
            seg = np.diff(pts, axis=0)
            ln = np.hypot(seg[:, 0], seg[:, 1])
            mid = (pts[:-1] + pts[1:]) / 2.0
            tot_l += ln.sum()
            cx += (mid[:, 0] * ln).sum()
            cy += (mid[:, 1] * ln).sum()
        if tot_l == 0:
            arr = np.vstack(parts)
            return float(arr[:, 0].mean()), float(arr[:, 1].mean())
        return cx / tot_l, cy / tot_l
    polys = [d] if kind == "polygon" else d
    # translate everything near the origin first (see _ring_signed_area:
    # absolute EPSG:3857 coords make the cross products cancel badly)
    ox, oy = polys[0][0][0] if polys and len(polys[0]) else (0.0, 0.0)
    tot_a, cx, cy = 0.0, 0.0, 0.0
    for rings in polys:
        for i, ring in enumerate(rings):
            x, y = ring[:-1, 0] - ox, ring[:-1, 1] - oy
            xn, yn = ring[1:, 0] - ox, ring[1:, 1] - oy
            cross = x * yn - xn * y
            a = cross.sum() / 2.0
            a_eff = abs(a) if i == 0 else -abs(a)  # holes subtract
            if a == 0:
                continue
            gx = ((x + xn) * cross).sum() / (6.0 * a)
            gy = ((y + yn) * cross).sum() / (6.0 * a)
            tot_a += a_eff
            cx += gx * a_eff
            cy += gy * a_eff
    cx, cy = cx + ox * (tot_a if tot_a else 0), cy + oy * (tot_a if tot_a else 0)
    if tot_a == 0:
        arr = np.vstack([np.vstack(r) for r in polys])
        return float(arr[:, 0].mean()), float(arr[:, 1].mean())
    return cx / tot_a, cy / tot_a


def n_points(g) -> int:
    kind, d = g
    if kind == "point":
        return 1
    if kind in ("linestring", "multipoint"):
        return int(np.asarray(d).shape[0])
    if kind == "polygon":
        return sum(r.shape[0] for r in d)
    if kind == "multilinestring":
        return sum(p.shape[0] for p in d)
    return sum(sum(r.shape[0] for r in p) for p in d)


def is_empty(g) -> bool:
    return n_points(g) == 0


# ---------------------------------------------------------------------------
# Point-in-polygon with holes; point-on-line
# ---------------------------------------------------------------------------

def points_in_polygon(xs, ys, rings) -> np.ndarray:
    """Even-odd across ALL rings: XOR of per-ring ray casts — a point inside
    the outer ring and inside a hole ring is outside the polygon."""
    xs = np.asarray(xs, dtype=np.float64)
    inside = np.zeros(xs.shape[0], dtype=bool)
    for ring in rings:
        inside ^= point_in_ring(xs, ys, ring)
    return inside


def points_in_geom(xs, ys, g) -> np.ndarray:
    kind, d = g
    if kind == "polygon":
        return points_in_polygon(xs, ys, d)
    if kind == "multipolygon":
        out = np.zeros(np.asarray(xs).shape[0], dtype=bool)
        for p in d:
            out |= points_in_polygon(xs, ys, p)
        return out
    raise ValueError(f"points_in_geom needs a polygonal geometry, got {kind}")


def _point_on_segments(px, py, pts: np.ndarray, eps=_EPS) -> bool:
    if pts.shape[0] < 2:
        return False
    x1, y1 = pts[:-1, 0], pts[:-1, 1]
    x2, y2 = pts[1:, 0], pts[1:, 1]
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    t = np.where(L2 > 0, ((px - x1) * dx + (py - y1) * dy) / np.where(L2 > 0, L2, 1), 0)
    t = np.clip(t, 0.0, 1.0)
    qx, qy = x1 + t * dx, y1 + t * dy
    d = np.hypot(px - qx, py - qy)
    scale = max(1.0, abs(px), abs(py))
    return bool((d <= eps * scale).any())


def point_on_boundary(px, py, g, eps=_EPS) -> bool:
    kind, d = g
    if kind == "linestring":
        return _point_on_segments(px, py, d, eps)
    if kind == "multilinestring":
        return any(_point_on_segments(px, py, p, eps) for p in d)
    if kind == "polygon":
        return any(_point_on_segments(px, py, r, eps) for r in d)
    if kind == "multipolygon":
        return any(point_on_boundary(px, py, ("polygon", p), eps) for p in d)
    return False


# ---------------------------------------------------------------------------
# Segment intersection (vectorized all-pairs between two polylines)
# ---------------------------------------------------------------------------

def _seg_arrays(pts: np.ndarray):
    return pts[:-1], pts[1:]


def segments_intersect_any(a: np.ndarray, b: np.ndarray,
                           proper_only: bool = False) -> bool:
    """True if any segment of polyline ``a`` intersects any of ``b``.

    ``proper_only``: require a crossing in the segments' interiors (shared
    endpoints / touching not counted) — the Crosses-style test."""
    if a.shape[0] < 2 or b.shape[0] < 2:
        return False
    p, p2 = _seg_arrays(a)
    q, q2 = _seg_arrays(b)
    r = p2 - p          # (n,2)
    s = q2 - q          # (m,2)
    # orientation cross products, broadcast (n, m)
    qp = q[None, :, :] - p[:, None, :]
    rxs = r[:, None, 0] * s[None, :, 1] - r[:, None, 1] * s[None, :, 0]
    qpxr = qp[:, :, 0] * r[:, None, 1] - qp[:, :, 1] * r[:, None, 0]
    qpxs = qp[:, :, 0] * s[None, :, 1] - qp[:, :, 1] * s[None, :, 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = qpxs / rxs   # position along a-segment
        u = qpxr / rxs   # position along b-segment
    nonpar = rxs != 0
    if proper_only:
        hit = nonpar & (t > _EPS) & (t < 1 - _EPS) & (u > _EPS) & (u < 1 - _EPS)
        return bool(hit.any())
    hit = nonpar & (t >= -_EPS) & (t <= 1 + _EPS) & (u >= -_EPS) & (u <= 1 + _EPS)
    if hit.any():
        return True
    # collinear overlap: parallel (rxs == 0) and collinear (qpxr == 0)
    col = (~nonpar) & (np.abs(qpxr) <= _EPS)
    if not col.any():
        return False
    ii, jj = np.nonzero(col)
    for i, j in zip(ii, jj):
        d = r[i]
        L2 = float(d @ d)
        if L2 == 0:
            continue
        t0 = float((q[j] - p[i]) @ d) / L2
        t1 = float((q2[j] - p[i]) @ d) / L2
        lo, hi = min(t0, t1), max(t0, t1)
        if hi >= -_EPS and lo <= 1 + _EPS:
            return True
    return False


def _boundary_paths(g):
    kind, d = g
    if kind == "linestring":
        return [d]
    if kind == "multilinestring":
        return list(d)
    if kind == "polygon":
        return list(d)
    if kind == "multipolygon":
        return [r for p in d for r in p]
    return []


def boundaries_intersect(a, b, proper_only=False) -> bool:
    for pa in _boundary_paths(a):
        for pb in _boundary_paths(b):
            if segments_intersect_any(pa, pb, proper_only):
                return True
    return False


# ---------------------------------------------------------------------------
# Convex overlay: Sutherland-Hodgman clip + half-plane subtract
# ---------------------------------------------------------------------------

def _close_ring(pts: np.ndarray) -> np.ndarray:
    if pts.shape[0] == 0:
        return pts
    if not np.allclose(pts[0], pts[-1]):
        pts = np.vstack([pts, pts[:1]])
    return pts


def _dedupe_ring(pts: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate vertices (open ring input/output).
    Duplicate vertices create zero-length edges whose half-planes are the
    whole plane — a clip ring carrying one would otherwise duplicate the
    entire subject in subtract_convex (found by the dissolve union test)."""
    if pts.shape[0] < 2:
        return pts
    d = np.abs(np.diff(np.vstack([pts, pts[:1]]), axis=0)).max(axis=1)
    scale = max(1.0, float(np.abs(pts).max()))
    return pts[d > _EPS * scale]


def _orient_ccw(ring: np.ndarray) -> np.ndarray:
    return ring if _ring_signed_area(ring) >= 0 else ring[::-1].copy()


def clip_convex(subject_ring: np.ndarray, clip_ring: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip ``subject_ring`` (any simple ring) against
    CONVEX ``clip_ring``. Returns a closed ring ((K,2), possibly empty).
    Exact when the subject is convex; for concave subjects the result may
    include degenerate bridging edges (standard S-H behavior)."""
    clip = _close_ring(_dedupe_ring(
        _orient_ccw(_close_ring(np.asarray(clip_ring, dtype=np.float64)))[:-1]
    ))
    out = _close_ring(np.asarray(subject_ring, dtype=np.float64))[:-1]
    if clip.shape[0] < 4:
        return np.empty((0, 2))
    for i in range(clip.shape[0] - 1):
        if out.shape[0] == 0:
            break
        a, b = clip[i], clip[i + 1]
        ex, ey = b[0] - a[0], b[1] - a[1]
        # inside = left of directed edge (CCW ring interior)
        d = (out[:, 0] - a[0]) * ey - (out[:, 1] - a[1]) * ex
        inside = d <= _EPS * max(1.0, abs(ex) + abs(ey))
        new_pts = []
        n = out.shape[0]
        for j in range(n):
            k = (j + 1) % n
            cur, nxt = out[j], out[k]
            cin, nin = inside[j], inside[k]
            if cin:
                new_pts.append(cur)
            if cin != nin:
                dc, dn = d[j], d[k]
                t = dc / (dc - dn)
                new_pts.append(cur + t * (nxt - cur))
            # note: inside sign flipped below — d>0 means RIGHT of edge here
        out = np.array(new_pts) if new_pts else np.empty((0, 2))
    out = _dedupe_ring(out)
    if out.shape[0] < 3:
        return np.empty((0, 2))
    return _close_ring(out)


def convex_intersection_area(a_ring: np.ndarray, b_ring: np.ndarray) -> float:
    r = clip_convex(a_ring, b_ring)
    if r.shape[0] < 4:
        return 0.0
    return abs(_ring_signed_area(r))


def subtract_convex(subject_ring: np.ndarray, clip_ring: np.ndarray
                    ) -> list[np.ndarray]:
    """subject - clip for CONVEX clip: decompose the complement of the clip
    polygon into half-planes; piece_i = subject ∩ outside(edge_i) ∩
    inside(edges_0..i-1). Pieces are disjoint; their union is the erase
    remainder (OGRLayer::Erase per-feature semantics)."""
    clip = _close_ring(_dedupe_ring(
        _orient_ccw(_close_ring(np.asarray(clip_ring, dtype=np.float64)))[:-1]
    ))
    pieces = []
    current = _close_ring(np.asarray(subject_ring, dtype=np.float64))
    if clip.shape[0] < 4:
        return [current] if current.shape[0] >= 4 else []
    for i in range(clip.shape[0] - 1):
        if current.shape[0] < 4:
            break
        a, b = clip[i], clip[i + 1]
        # half-plane OUTSIDE edge i: clip current by the flipped edge
        flipped = np.array([b, a])
        piece = _clip_halfplane(current, flipped[0], flipped[1])
        if piece.shape[0] >= 4 and abs(_ring_signed_area(piece)) > _EPS:
            pieces.append(piece)
        # remainder continues INSIDE edge i
        current = _clip_halfplane(current, a, b)
    return pieces


def _clip_halfplane(ring: np.ndarray, a, b) -> np.ndarray:
    """Clip closed ring by half-plane left of directed edge a->b."""
    out = _close_ring(ring)[:-1]
    if out.shape[0] == 0:
        return np.empty((0, 2))
    ex, ey = b[0] - a[0], b[1] - a[1]
    d = (out[:, 0] - a[0]) * ey - (out[:, 1] - a[1]) * ex
    inside = d <= _EPS * max(1.0, abs(ex) + abs(ey))
    new_pts = []
    n = out.shape[0]
    for j in range(n):
        k = (j + 1) % n
        if inside[j]:
            new_pts.append(out[j])
        if inside[j] != inside[k]:
            t = d[j] / (d[j] - d[k])
            new_pts.append(out[j] + t * (out[k] - out[j]))
    out2 = _dedupe_ring(np.array(new_pts))
    if out2.shape[0] < 3:
        return np.empty((0, 2))
    return _close_ring(out2)


def triangulate_ring(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a SIMPLE ring (convex or concave, no
    holes) -> list of closed CCW triangle rings. O(n^2); the decomposition
    backbone that upgrades the convex overlay kernels to arbitrary simple
    polygons (clip each triangle of A against B's convex pieces)."""
    r = _orient_ccw(_close_ring(np.asarray(ring, dtype=np.float64)))[:-1]
    n = r.shape[0]
    if n < 3:
        return []
    if n == 3:
        return [_close_ring(r.copy())]
    idx = list(range(n))
    tris = []
    guard = 0
    while len(idx) > 3 and guard < 4 * n * n:
        guard += 1
        n_cur = len(idx)
        ear_found = False
        for k in range(n_cur):
            i0, i1, i2 = idx[k - 1], idx[k], idx[(k + 1) % n_cur]
            a, b, c = r[i0], r[i1], r[i2]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross <= _EPS:  # reflex or degenerate corner
                continue
            # no other remaining vertex strictly inside the candidate ear
            tri = np.array([a, b, c, a])
            others = [j for j in idx if j not in (i0, i1, i2)]
            if others:
                pts = r[others]
                inside = point_in_ring(pts[:, 0], pts[:, 1], tri)
                if inside.any():
                    continue
            tris.append(tri)
            idx.pop(k)
            ear_found = True
            break
        if not ear_found:
            # numerically stuck (collinear runs): snip the least-reflex corner
            k = 0
            i0, i1, i2 = idx[k - 1], idx[k], idx[(k + 1) % len(idx)]
            tris.append(np.array([r[i0], r[i1], r[i2], r[i0]]))
            idx.pop(k)
    if len(idx) == 3:
        tris.append(np.array([r[idx[0]], r[idx[1]], r[idx[2]], r[idx[0]]]))
    return [t for t in tris if abs(_ring_signed_area(t)) > _EPS]


def decompose_convex(g) -> list[np.ndarray]:
    """Polygon (with holes) / multipolygon -> disjoint CONVEX pieces
    (triangles) covering the same area: triangulate the outer ring, then
    subtract each hole from every triangle with the convex half-plane
    subtract. The pieces feed the convex overlay kernels, generalizing
    Intersection/Difference/Union to arbitrary simple polygons."""
    kind, d = g
    if kind == "multipolygon":
        out = []
        for p in d:
            out.extend(decompose_convex(("polygon", p)))
        return out
    if kind != "polygon" or not d:
        return []
    pieces = triangulate_ring(d[0])
    for hole in d[1:]:
        hole_tris = triangulate_ring(hole)
        for ht in hole_tris:
            nxt = []
            for p in pieces:
                nxt.extend(subtract_convex(p, ht))
            pieces = nxt
    return pieces


class _GHNode:
    __slots__ = ("pt", "nxt", "prv", "neighbor", "inter", "entry", "visited")

    def __init__(self, pt, inter=False):
        self.pt = pt
        self.nxt = self.prv = self.neighbor = None
        self.inter = inter
        self.entry = False
        self.visited = False


def _gh_build_list(ring, inters, key_i, key_t):
    """Ring vertices + intersection nodes (ordered by edge parameter) ->
    circular doubly-linked list; returns (head, {inter_idx: node})."""
    n = len(ring)
    by_edge: dict[int, list] = {}
    for idx, rec in enumerate(inters):
        by_edge.setdefault(rec[key_i], []).append((rec[key_t], idx))
    nodes = []
    inter_nodes = {}
    for i in range(n):
        nodes.append(_GHNode(ring[i].copy()))
        for t, idx in sorted(by_edge.get(i, [])):
            nd = _GHNode(inters[idx][4].copy(), inter=True)
            inter_nodes[idx] = nd
            nodes.append(nd)
    for k, nd in enumerate(nodes):
        nd.nxt = nodes[(k + 1) % len(nodes)]
        nd.prv = nodes[k - 1]
    return nodes[0], inter_nodes, nodes


def gh_intersection(a_ring, b_ring, op: str = "intersection"):
    """Greiner-Hormann clip of two SIMPLE rings (no holes) — the direct
    O((n+m+k)·k) boolean that replaces the O(T_a·T_b) convex
    decomposition for concave pairs (Greiner & Hormann, ACM TOG 17(2)).
    ``op='difference'`` computes A minus B by the standard
    reversed-clip-orientation trick (same tracing rule, B walked CW);
    ``op='union'`` traverses with the flipped direction rule (entry ->
    backward) and declares degeneracy when the union needs a hole
    (interlocking shapes trace a CW ring).

    Returns a list of closed result rings, or ``None`` when a degenerate
    configuration is met (endpoint-on-edge, collinear overlap, boundary-
    touching containment, B-inside-A difference whose result needs a
    hole) — callers fall back to the exact decomposition path, so
    degeneracy costs performance, never correctness."""
    A = _orient_ccw(_close_ring(_dedupe_ring(
        _close_ring(np.asarray(a_ring, dtype=np.float64)))))
    B = _orient_ccw(_close_ring(_dedupe_ring(
        _close_ring(np.asarray(b_ring, dtype=np.float64)))))
    diff = op == "difference"
    union = op == "union"
    if A.shape[0] < 4:
        return [B.copy()] if union and B.shape[0] >= 4 else []
    if B.shape[0] < 4:
        return [A.copy()] if (diff or union) else []
    if diff:
        B = B[::-1].copy()
    a, b = A[:-1], B[:-1]
    na, nb = len(a), len(b)
    scale = max(1.0, float(np.abs(a).max()), float(np.abs(b).max()))
    teps = 1e-9  # parameter-space degeneracy guard

    inters = []  # (ia, ta, ib, tb, point)
    for i in range(na):
        p1 = a[i]
        p2 = a[(i + 1) % na]
        dp = p2 - p1
        for j in range(nb):
            q1 = b[j]
            q2 = b[(j + 1) % nb]
            dq = q2 - q1
            den = dp[0] * dq[1] - dp[1] * dq[0]
            w = q1 - p1
            if abs(den) < 1e-14 * scale * scale:
                # parallel: collinear overlapping edges are degenerate
                if abs(w[0] * dp[1] - w[1] * dp[0]) < 1e-9 * scale * scale:
                    s0 = np.dot(q1 - p1, dp) / max(np.dot(dp, dp), 1e-300)
                    s1 = np.dot(q2 - p1, dp) / max(np.dot(dp, dp), 1e-300)
                    lo, hi = min(s0, s1), max(s0, s1)
                    if hi > teps and lo < 1.0 - teps:
                        return None
                continue
            t = (w[0] * dq[1] - w[1] * dq[0]) / den
            s = (w[0] * dp[1] - w[1] * dp[0]) / den
            if -teps < t < 1.0 + teps and -teps < s < 1.0 + teps:
                if (t < teps or t > 1.0 - teps
                        or s < teps or s > 1.0 - teps):
                    return None  # endpoint-touching
                inters.append((i, float(t), j, float(s), p1 + t * dp))

    def _strict_in(pt, ring):
        if point_on_boundary(pt[0], pt[1], ("polygon", [ring])):
            return None
        return bool(point_in_ring(
            np.array([pt[0]]), np.array([pt[1]]), ring)[0])

    if not inters:
        ain = _strict_in(a[0], B)
        if ain is None:
            return None
        bin_ = _strict_in(b[0], A)
        if bin_ is None:
            return None
        if diff:
            if ain:
                return []          # A wholly inside B -> nothing left
            if bin_:
                return None        # result would need a hole -> fallback
            return [A.copy()]      # disjoint -> A unchanged
        if union:
            if ain:
                return [B.copy()]
            if bin_:
                return [A.copy()]
            return [A.copy(), B.copy()]   # disjoint multi-part union
        if ain:
            return [A.copy()]
        if bin_:
            return [B.copy()]
        return []
    if len(inters) % 2:
        return None  # parity broken -> numerically marginal

    _, ia_nodes, a_nodes = _gh_build_list(a, inters, 0, 1)
    _, ib_nodes, b_nodes = _gh_build_list(b, inters, 2, 3)
    for idx in range(len(inters)):
        ia_nodes[idx].neighbor = ib_nodes[idx]
        ib_nodes[idx].neighbor = ia_nodes[idx]

    # entry/exit marking by parity walk from each list's first vertex;
    # difference clips against the COMPLEMENT of B, so the A-list's
    # inside-status flips (the reversed B list already walks the
    # complement's boundary orientation)
    for nodes, other, invert in ((a_nodes, B, diff), (b_nodes, A, False)):
        status = _strict_in(nodes[0].pt, other)
        if status is None:
            return None
        if invert:
            status = not status
        cur = nodes[0]
        first = cur
        while True:
            if cur.inter:
                cur.entry = not status
                status = not status
            cur = cur.nxt
            if cur is first:
                break

    results = []
    for idx in range(len(inters)):
        start = ia_nodes[idx]
        if start.visited:
            continue
        ring_pts = []
        cur = start
        guard = 0
        limit = 4 * (na + nb + len(inters))
        while guard < limit:
            guard += 1
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            ring_pts.append(cur.pt)
            step_fwd = (not cur.entry) if union else cur.entry
            nxt = cur.nxt if step_fwd else cur.prv
            while not nxt.inter:
                ring_pts.append(nxt.pt)
                nxt = nxt.nxt if step_fwd else nxt.prv
            cur = nxt.neighbor
            if cur is start or cur.neighbor is start:
                break
        if guard >= limit:
            return None
        if len(ring_pts) >= 3:
            rr = _close_ring(_dedupe_ring(np.asarray(ring_pts)))
            if rr.shape[0] >= 4 and abs(_ring_signed_area(rr)) > _EPS:
                results.append(_orient_ccw(rr))
    if union and len(results) > 1:
        # a ring nested inside another is an enclosed hole (interlocking
        # shapes); the simple-ring result model can't express it -> fallback
        for i2 in range(len(results)):
            for j2 in range(len(results)):
                if i2 == j2:
                    continue
                v = results[i2][0]
                if point_in_ring(np.array([v[0]]), np.array([v[1]]),
                                 results[j2])[0]:
                    return None
    return results


def gh_union(a_ring, b_ring):
    """A union B for SIMPLE rings (see gh_intersection); None on
    degeneracy or hole-producing interlock -> decomposition fallback."""
    return gh_intersection(a_ring, b_ring, op="union")


def gh_difference(a_ring, b_ring):
    """A minus B for SIMPLE rings (see gh_intersection); None on
    degeneracy -> decomposition fallback."""
    return gh_intersection(a_ring, b_ring, op="difference")


def gh_polygon_pieces(a, b, op: str):
    """Greiner-Hormann boolean for 'polygon' geometries WITH holes,
    composed from the single-ring primitives (so the 37-50x win over
    ear-clip decomposition extends to hole-bearing inputs):

    * intersection: Aout ∩ Bout, then every hole of A and B subtracted
      sequentially from the pieces;
    * difference:   (Aout − Bout) ∪ (Aout ∩ Bh for each hole Bh of B)
      — B's holes re-expose A, and the parts are disjoint because holes
      of a valid polygon are disjoint and inside Bout — then A's own
      holes subtracted from every piece.

    Every step is a single-ring G-H op; returns the disjoint result
    rings, or ``None`` the moment any step degenerates (endpoint-on-edge,
    collinear overlap, or a subtraction whose result needs a hole) —
    callers fall back to the exact decomposition, same contract as
    gh_intersection."""
    ka, da = a
    kb, db = b
    if ka != "polygon" or kb != "polygon" or not da or not db:
        return None
    if op == "intersection":
        pieces = gh_intersection(da[0], db[0])
    elif op == "difference":
        pieces = gh_difference(da[0], db[0])
        if pieces is not None:
            for hb in db[1:]:
                back = gh_intersection(da[0], hb)
                if back is None:
                    return None
                pieces = pieces + back
    else:
        return None
    if pieces is None:
        return None
    holes = list(da[1:]) + (list(db[1:]) if op == "intersection" else [])
    for hr in holes:
        nxt = []
        for p in pieces:
            d = gh_difference(p, hr)
            if d is None:
                return None
            nxt.extend(d)
        pieces = nxt
        if not pieces:
            break
    return pieces


def ring_difference(p_ring, c_ring) -> list[np.ndarray]:
    """Robust p minus c for simple rings: Greiner-Hormann first, exact
    convex-decomposition fallback on degeneracy (both rings triangulated
    as needed) — always returns disjoint pieces."""
    d = gh_difference(p_ring, c_ring)
    if d is not None:
        return d
    if _is_simple_convex(("polygon", [np.asarray(p_ring, np.float64)])):
        pieces = [np.asarray(p_ring, np.float64)]
    else:
        pieces = triangulate_ring(p_ring)
    clips = ([np.asarray(c_ring, np.float64)]
             if _is_simple_convex(("polygon", [np.asarray(c_ring, np.float64)]))
             else triangulate_ring(c_ring))
    for tc in clips:
        nxt = []
        for pp in pieces:
            nxt.extend(subtract_convex(pp, tc))
        pieces = nxt
        if not pieces:
            break
    return pieces


def polygon_intersection_pieces(a, b) -> list[np.ndarray]:
    """Intersection of two arbitrary simple polygons (holes allowed) as
    disjoint pieces.  Polygon pairs (holes included) go through the
    composed Greiner-Hormann boolean (degenerate configurations fall
    back); multiparts and degeneracies use the pairwise convex clip over
    both ear-clip decompositions."""
    rings = gh_polygon_pieces(a, b, "intersection")
    if rings is not None:
        return rings
    pa = decompose_convex(a)
    pb = decompose_convex(b)
    out = []
    for ta in pa:
        for tb in pb:
            r = clip_convex(ta, tb)
            if r.shape[0] >= 4 and abs(_ring_signed_area(r)) > _EPS:
                out.append(r)
    return out


def polygon_difference_pieces(a, b) -> list[np.ndarray]:
    """a minus b for arbitrary simple polygons: composed Greiner-Hormann
    difference for polygon pairs incl. holes (degeneracy and
    hole-producing containment fall back); otherwise subtract every
    convex piece of b from every piece of a (sequentially, so pieces
    stay disjoint)."""
    rings = gh_polygon_pieces(a, b, "difference")
    if rings is not None:
        return rings
    pieces = decompose_convex(a)
    for tb in decompose_convex(b):
        nxt = []
        for p in pieces:
            nxt.extend(subtract_convex(p, tb))
        pieces = nxt
        if not pieces:
            break
    return pieces


def polygon_intersection_area(a, b) -> float:
    return sum(abs(_ring_signed_area(p))
               for p in polygon_intersection_pieces(a, b))


# ---------------------------------------------------------------------------
# Constructions
# ---------------------------------------------------------------------------

def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain -> closed CCW ring ((H+1,2))."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if pts.shape[0] == 1:
        return pts
    if pts.shape[0] == 2:
        return pts
    # sorted lexicographically by np.unique already
    def half(iterable):
        h = []
        for p in iterable:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    ring = np.array(lower[:-1] + upper[:-1])
    return _close_ring(ring)


def hull_of_geom(g) -> bytes:
    """ST_ConvexHull: WKB of the hull (point/linestring degenerate cases)."""
    kind, d = g
    if kind == "point":
        return to_wkb("point", d)
    if kind == "polygon":
        arr = np.vstack(d)
    elif kind == "multipolygon":
        arr = np.vstack([np.vstack(p) for p in d])
    elif kind in ("linestring", "multipoint"):
        arr = np.asarray(d)
    else:
        arr = np.vstack(d)
    h = convex_hull(arr)
    if h.shape[0] == 1:
        return to_wkb("point", h[0])
    if h.shape[0] == 2:
        return to_wkb("linestring", h)
    return to_wkb("polygon", [h])


def simplify_path(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker (OGRGeometry::Simplify semantics, tolerance =
    max perpendicular deviation). Iterative to avoid recursion limits."""
    pts = np.asarray(pts, dtype=np.float64)
    n = pts.shape[0]
    if n <= 2:
        return pts.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        seg = pts[i1] - pts[i0]
        L = np.hypot(*seg)
        mid = pts[i0 + 1 : i1]
        if L == 0:
            d = np.hypot(mid[:, 0] - pts[i0, 0], mid[:, 1] - pts[i0, 1])
        else:
            d = np.abs(
                (mid[:, 0] - pts[i0, 0]) * seg[1]
                - (mid[:, 1] - pts[i0, 1]) * seg[0]
            ) / L
        j = int(np.argmax(d))
        if d[j] > tol:
            k = i0 + 1 + j
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return pts[keep]


def simplify_geom(g, tol: float):
    kind, d = g
    if kind in ("point", "multipoint"):
        return g
    if kind == "linestring":
        return ("linestring", simplify_path(d, tol))
    if kind == "multilinestring":
        return (kind, [simplify_path(p, tol) for p in d])
    if kind == "polygon":
        rings = []
        for r in d:
            s = simplify_path(r, tol)
            if s.shape[0] >= 4:
                rings.append(s)
        return ("polygon", rings)
    return ("multipolygon",
            [simplify_geom(("polygon", p), tol)[1] for p in d])


def buffer_geom(g, dist: float, quadsegs: int = 8):
    """Round buffer: point -> 4*quadsegs-gon circle; convex polygon ->
    offset edges + vertex arcs (Minkowski sum with a disc, exact to the
    arc discretization, the GEOS quadrant-segments model). Other kinds /
    negative distances fall back to the envelope-expand buffer with the
    caveat documented (v0 behavior)."""
    kind, d = g
    if dist == 0:
        return g
    if kind == "point":
        ang = np.linspace(0, 2 * np.pi, 4 * quadsegs, endpoint=False)
        ring = np.column_stack([d[0] + dist * np.cos(ang),
                                d[1] + dist * np.sin(ang)])
        return ("polygon", [_close_ring(ring)])
    if kind == "polygon" and dist > 0 and d:
        ring = _orient_ccw(_close_ring(d[0]))
        pts = ring[:-1]
        n = pts.shape[0]
        out = []
        for i in range(n):
            p_prev, p, p_next = pts[i - 1], pts[i], pts[(i + 1) % n]
            e_in = p - p_prev
            e_out = p_next - p
            n_in = np.array([e_in[1], -e_in[0]])
            n_out = np.array([e_out[1], -e_out[0]])
            ni = n_in / (np.hypot(*n_in) or 1.0)
            no = n_out / (np.hypot(*n_out) or 1.0)
            a0 = np.arctan2(ni[1], ni[0])
            a1 = np.arctan2(no[1], no[0])
            while a1 < a0:
                a1 += 2 * np.pi  # convex CCW corner: outward normal turns CCW
            angles = np.linspace(a0, a1, max(2, int(np.ceil((a1 - a0)
                                                            / (np.pi / 2 / quadsegs))) + 1))
            for a in angles:
                out.append(p + dist * np.array([np.cos(a), np.sin(a)]))
        ring_out = _close_ring(np.array(out))
        return ("polygon", [ring_out])
    # fallback: envelope expand
    x0, y0, x1, y1 = bbox(g)
    return ("polygon", [np.array([
        [x0 - dist, y0 - dist], [x1 + dist, y0 - dist],
        [x1 + dist, y1 + dist], [x0 - dist, y1 + dist],
        [x0 - dist, y0 - dist]])])


def make_valid(g):
    """Close open rings, enforce outer-CCW/holes-CW orientation, drop
    degenerate (<4 pt / zero-area) rings — OGRGeometry::MakeValid's
    structure-repair subset (self-intersection node splitting not done)."""
    kind, d = g
    if kind == "polygon":
        rings = []
        for i, r in enumerate(d):
            r = _close_ring(np.asarray(r, dtype=np.float64))
            if r.shape[0] < 4 or abs(_ring_signed_area(r)) <= _EPS:
                continue
            want_ccw = i == 0
            if (_ring_signed_area(r) >= 0) != want_ccw:
                r = r[::-1].copy()
            rings.append(r)
        return ("polygon", rings)
    if kind == "multipolygon":
        return ("multipolygon", [make_valid(("polygon", p))[1] for p in d])
    return g


def is_valid(g) -> bool:
    """Rings closed, >= 4 points, non-zero area, outer ring not
    self-intersecting, holes inside the outer ring."""
    kind, d = g
    if kind in ("point", "multipoint", "linestring", "multilinestring"):
        return True
    polys = [d] if kind == "polygon" else d
    for rings in polys:
        if not rings:
            return False
        for i, r in enumerate(rings):
            if r.shape[0] < 4 or not np.allclose(r[0], r[-1]):
                return False
            if abs(_ring_signed_area(r)) <= 0:
                return False
            if _ring_self_intersects(r):
                return False
            if i > 0:
                inside = points_in_polygon(r[:-1, 0], r[:-1, 1], [rings[0]])
                on_b = np.array([
                    _point_on_segments(x, y, rings[0])
                    for x, y in r[:-1]
                ])
                if not (inside | on_b).all():
                    return False
    return True


def _ring_self_intersects(ring: np.ndarray) -> bool:
    """Non-adjacent segment pairs intersecting => not simple."""
    n = ring.shape[0] - 1
    if n < 4:
        return False
    p, p2 = ring[:-1], ring[1:]
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue  # first/last share the closing vertex
            if _segments_cross(p[i], p2[i], p[j], p2[j]):
                return True
    return False


def _segments_cross(a1, a2, b1, b2) -> bool:
    d1 = np.cross(a2 - a1, b1 - a1)
    d2 = np.cross(a2 - a1, b2 - a1)
    d3 = np.cross(b2 - b1, a1 - b1)
    d4 = np.cross(b2 - b1, a2 - b1)
    return bool(((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)))


def is_simple(g) -> bool:
    kind, d = g
    if kind == "linestring":
        closed = np.allclose(d[0], d[-1]) if d.shape[0] > 1 else False
        ring = d if not closed else d
        n = d.shape[0] - 1
        p, p2 = d[:-1], d[1:]
        for i in range(n):
            for j in range(i + 2, n):
                if closed and i == 0 and j == n - 1:
                    continue
                if _segments_cross(p[i], p2[i], p[j], p2[j]):
                    return False
        return True
    if kind == "polygon" or kind == "multipolygon":
        return is_valid(g)
    return True


# ---------------------------------------------------------------------------
# Predicates (OGC names; ogr_geometry.h:546-556)
# ---------------------------------------------------------------------------

def _rep_interior_point(rings):
    """A point strictly inside the polygon (centroid, nudged if needed)."""
    cx, cy = centroid(("polygon", rings))
    if points_in_polygon([cx], [cy], rings)[0]:
        return cx, cy
    # scanline fallback: midpoints of even-odd crossings at the bbox middle
    x0, y0, x1, y1 = bbox(("polygon", rings))
    ys = (y0 + y1) / 2.0
    xs_cross = []
    for ring in rings:
        a, b = ring[:-1], ring[1:]
        m = (a[:, 1] > ys) != (b[:, 1] > ys)
        t = (ys - a[m, 1]) / (b[m, 1] - a[m, 1])
        xs_cross.extend(a[m, 0] + t * (b[m, 0] - a[m, 0]))
    xs_cross = sorted(xs_cross)
    for i in range(0, len(xs_cross) - 1, 2):
        mid = (xs_cross[i] + xs_cross[i + 1]) / 2.0
        if points_in_polygon([mid], [ys], rings)[0]:
            return mid, ys
    return cx, cy


def intersects(a, b) -> bool:
    ax0, ay0, ax1, ay1 = bbox(a)
    bx0, by0, bx1, by1 = bbox(b)
    if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
        return False
    ka, da = a
    kb, db = b
    # normalize: point first, then line, then polygon
    order = {"point": 0, "multipoint": 0, "linestring": 1,
             "multilinestring": 1, "polygon": 2, "multipolygon": 2}
    if order[ka] > order[kb]:
        return intersects(b, a)
    if order[ka] == 0:
        pts = da.reshape(-1, 2) if ka == "multipoint" else da.reshape(1, 2)
        if order[kb] == 0:
            qts = db.reshape(-1, 2) if kb == "multipoint" else db.reshape(1, 2)
            for p in pts:
                if np.any(np.all(np.abs(qts - p) <= _EPS, axis=1)):
                    return True
            return False
        if order[kb] == 1:
            return any(point_on_boundary(p[0], p[1], b) for p in pts)
        return bool(points_in_geom(pts[:, 0], pts[:, 1], b).any()) or any(
            point_on_boundary(p[0], p[1], b) for p in pts
        )
    if order[ka] == 1 and order[kb] == 1:
        return boundaries_intersect(a, b)
    if order[ka] == 1:  # line vs polygon
        for path in _boundary_paths(a):
            if points_in_geom(path[:, 0], path[:, 1], b).any():
                return True
        return boundaries_intersect(a, b)
    # polygon vs polygon: vertex containment either way, else boundary cross
    for path in _boundary_paths(a):
        if points_in_geom(path[:, 0], path[:, 1], b).any():
            return True
    for path in _boundary_paths(b):
        if points_in_geom(path[:, 0], path[:, 1], a).any():
            return True
    return boundaries_intersect(a, b)


def disjoint(a, b) -> bool:
    return not intersects(a, b)


def within(a, b) -> bool:
    """a within b. Points: containment; lines: all vertices in b and no
    boundary crossing; polygons: all vertices of a inside/on b and no proper
    boundary crossing (exact for the convex/simple domain)."""
    ka, da = a
    kb, db = b
    if kb not in ("polygon", "multipolygon"):
        if ka == "point" and kb == "linestring":
            return point_on_boundary(da[0], da[1], b)
        if ka == "point" and kb == "point":
            return bool(np.all(np.abs(da - db) <= _EPS))
        return False
    if ka == "point":
        return bool(points_in_geom([da[0]], [da[1]], b)[0])
    if ka == "multipoint":
        return bool(points_in_geom(da[:, 0], da[:, 1], b).all())
    paths = _boundary_paths(a)
    for path in paths:
        inside = points_in_geom(path[:, 0], path[:, 1], b)
        onb = np.array([point_on_boundary(x, y, b) for x, y in path])
        if not (inside | onb).all():
            return False
    if boundaries_intersect(a, b, proper_only=True):
        return False
    if ka in ("polygon", "multipolygon"):
        # at least one interior point of a strictly inside b
        polys = [da] if ka == "polygon" else da
        px, py = _rep_interior_point(polys[0])
        return bool(points_in_geom([px], [py], b)[0])
    return True


def contains(a, b) -> bool:
    return within(b, a)


def touches(a, b) -> bool:
    """Boundaries meet, interiors don't (point-on-boundary for points;
    area-based interior test for polygon pairs — exact for convex)."""
    ka, da = a
    kb, db = b
    if ka == "point" and kb in ("polygon", "multipolygon", "linestring"):
        onb = point_on_boundary(da[0], da[1], b)
        if kb == "linestring":
            return onb and bool(
                np.all(np.abs(db[0] - da) <= _EPS)
                or np.all(np.abs(db[-1] - da) <= _EPS)
            )
        inside = bool(points_in_geom([da[0]], [da[1]], b)[0])
        return onb and not inside
    if kb == "point":
        return touches(b, a)
    if not intersects(a, b):
        return False
    if ka in ("polygon", "multipolygon") and kb in ("polygon", "multipolygon"):
        return _interior_overlap_area(a, b) <= _EPS
    # line cases: intersect but no proper (interior) crossing
    return not boundaries_intersect(a, b, proper_only=True)


def is_convex_ring(ring: np.ndarray) -> bool:
    """All turns the same direction (collinear runs allowed)."""
    r = _close_ring(np.asarray(ring, dtype=np.float64))
    v = np.diff(r, axis=0)
    cross = v[:-1, 0] * v[1:, 1] - v[:-1, 1] * v[1:, 0]
    scale = max(1.0, float(np.abs(v).max()) ** 2)
    pos = (cross > _EPS * scale).any()
    neg = (cross < -_EPS * scale).any()
    return not (pos and neg)


def _is_simple_convex(g) -> bool:
    kind, d = g
    return kind == "polygon" and len(d) == 1 and is_convex_ring(d[0])


def _interior_overlap_area(a, b) -> float:
    """Intersection area backing the Touches/Overlaps/Equals interior
    tests: direct convex clip when both sides are single convex rings,
    triangle-decomposition overlay otherwise (concave + holes exact)."""
    if _is_simple_convex(a) and _is_simple_convex(b):
        return convex_intersection_area(a[1][0], b[1][0])
    return polygon_intersection_area(a, b)


def crosses(a, b) -> bool:
    ka, _ = a
    kb, _ = b
    dims = {"point": 0, "multipoint": 0, "linestring": 1,
            "multilinestring": 1, "polygon": 2, "multipolygon": 2}
    if dims[ka] == 1 and dims[kb] == 1:
        return boundaries_intersect(a, b, proper_only=True)
    if dims[ka] == 1 and dims[kb] == 2:
        # sample vertices AND segment midpoints (a chord can cross with all
        # vertices outside); boundary proper-crossings imply interior entry
        paths = _boundary_paths(a)

        def samples(p):
            mid = (p[:-1] + p[1:]) / 2.0
            return np.vstack([p, mid])

        any_in = any(
            (points_in_geom(s[:, 0], s[:, 1], b)
             & ~np.array([point_on_boundary(x, y, b) for x, y in s])).any()
            for s in map(samples, paths)
        ) or boundaries_intersect(a, b, proper_only=True)
        any_out = any(
            (~points_in_geom(s[:, 0], s[:, 1], b)
             & ~np.array([point_on_boundary(x, y, b) for x, y in s])).any()
            for s in map(samples, paths)
        )
        return any_in and any_out
    if dims[ka] == 2 and dims[kb] == 1:
        return crosses(b, a)
    if dims[ka] == 0 and dims[kb] >= 1:
        kaarr = a[1].reshape(-1, 2)
        if dims[kb] == 2:
            ins = points_in_geom(kaarr[:, 0], kaarr[:, 1], b)
        else:
            ins = np.array([point_on_boundary(x, y, b) for x, y in kaarr])
        return bool(ins.any() and (~ins).any())
    return False


def overlaps(a, b) -> bool:
    dims = {"point": 0, "multipoint": 0, "linestring": 1,
            "multilinestring": 1, "polygon": 2, "multipolygon": 2}
    ka, kb = dims[a[0]], dims[b[0]]
    if ka != kb:
        return False
    if ka == 2:
        inter = _interior_overlap_area(a, b)
        if inter <= _EPS * max(area(a), area(b), 1.0):
            return False
        # defer to within/contains rather than raw area deficits: for
        # sub-tolerance-shifted near-equal polygons the area test and the
        # boundary-tolerance containment test would otherwise disagree
        # (found by the hypothesis predicate-consistency property)
        return not within(a, b) and not within(b, a)
    if ka == 0:
        pa = a[1].reshape(-1, 2)
        pb = b[1].reshape(-1, 2)
        shared = sum(
            bool(np.any(np.all(np.abs(pb - p) <= _EPS, axis=1))) for p in pa
        )
        return 0 < shared < min(len(pa), len(pb))
    # lines: share a collinear piece but neither contains the other
    if not boundaries_intersect(a, b):
        return False
    return not within(a, b) and not within(b, a)


def equals(a, b) -> bool:
    """Geometric equality: same point set. Points compare coords; polygons
    compare symmetric-difference area ~ 0 (convex domain) + equal areas;
    lines compare vertex sets after normalization."""
    ka, da = a
    kb, db = b
    if ka == "point" and kb == "point":
        return bool(np.all(np.abs(da - db) <= _EPS))
    dims = {"point": 0, "multipoint": 0, "linestring": 1,
            "multilinestring": 1, "polygon": 2, "multipolygon": 2}
    if dims[ka] != dims[kb]:
        return False
    if dims[ka] == 2:
        aa, ab = area(a), area(b)
        if abs(aa - ab) > _EPS * max(1.0, aa, ab):
            return False
        inter = _interior_overlap_area(a, b)
        return abs(inter - aa) <= 1e-6 * max(1.0, aa)
    if dims[ka] == 1:
        pa = np.vstack(_boundary_paths(a))
        pb = np.vstack(_boundary_paths(b))
        return (np.allclose(pa, pb) or np.allclose(pa, pb[::-1]))
    pa = np.unique(da.reshape(-1, 2), axis=0)
    pb = np.unique(db.reshape(-1, 2), axis=0)
    return pa.shape == pb.shape and np.allclose(pa, pb)


def distance(a, b) -> float:
    """Min distance between geometries (0 when intersecting): exact
    point/segment math over all part pairs."""
    if intersects(a, b):
        return 0.0

    def parts(g):
        kind, d = g
        if kind == "point":
            return [d.reshape(1, 2)]
        if kind == "multipoint":
            return [p.reshape(1, 2) for p in d.reshape(-1, 2)]
        return _boundary_paths(g)

    best = np.inf
    for pa in parts(a):
        for pb in parts(b):
            best = min(best, _path_distance(pa, pb))
    return float(best)


def _path_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Min distance between two polylines (or single points)."""
    best = np.inf
    for pts, segs in ((a, b), (b, a)):
        if segs.shape[0] < 2:
            d = np.hypot(pts[:, 0] - segs[0, 0], pts[:, 1] - segs[0, 1])
            best = min(best, float(d.min()))
            continue
        p1, p2 = segs[:-1], segs[1:]
        dvec = p2 - p1
        L2 = (dvec ** 2).sum(axis=1)
        L2 = np.where(L2 > 0, L2, 1.0)
        for x, y in pts:
            t = ((x - p1[:, 0]) * dvec[:, 0] + (y - p1[:, 1]) * dvec[:, 1]) / L2
            t = np.clip(t, 0, 1)
            qx = p1[:, 0] + t * dvec[:, 0]
            qy = p1[:, 1] + t * dvec[:, 1]
            best = min(best, float(np.hypot(x - qx, y - qy).min()))
    return best


# ---------------------------------------------------------------------------
# Geodesic measures (lon/lat degrees, spherical authalic radius)
# ---------------------------------------------------------------------------

AUTHALIC_R = 6371007.1809  # m, WGS84 authalic sphere


def geodesic_length(g, radius: float = AUTHALIC_R) -> float:
    """Great-circle (haversine) length of (multi)linestring / polygon
    perimeter in meters over lon/lat degrees. The reference delegates to
    GeographicLib's ellipsoidal geodesics (ogrsqlitesqlfunctions.cpp:720-828);
    sphere-vs-ellipsoid differs < 0.3%."""
    paths = _boundary_paths(g)
    tot = 0.0
    for pts in paths:
        if pts.shape[0] < 2:
            continue
        lon = np.radians(pts[:, 0])
        lat = np.radians(pts[:, 1])
        dlon = np.diff(lon)
        dlat = np.diff(lat)
        h = (np.sin(dlat / 2) ** 2
             + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dlon / 2) ** 2)
        tot += float((2 * radius * np.arcsin(np.sqrt(h))).sum())
    return tot


_WGS84_F = 1.0 / 298.257223563
_WGS84_E2 = _WGS84_F * (2.0 - _WGS84_F)


def _authalic_lat(lat_rad):
    """Geodetic -> authalic latitude (3-term series in e², sub-cm): the
    authalic projection preserves AREA exactly, so spherical formulas on
    the authalic sphere give ellipsoidal areas (standard map-projection
    identity; Snyder, Map Projections — A Working Manual, eq. 3-18)."""
    e2 = _WGS84_E2
    return lat_rad + (
        -(e2 / 3.0 + 31.0 * e2**2 / 180.0 + 59.0 * e2**3 / 560.0)
        * np.sin(2 * lat_rad)
        + (17.0 * e2**2 / 360.0 + 61.0 * e2**3 / 1260.0) * np.sin(4 * lat_rad)
        - (383.0 * e2**3 / 45360.0) * np.sin(6 * lat_rad)
    )


def geodesic_area(g, radius: float = AUTHALIC_R) -> float:
    """Ellipsoidal polygon area (m^2) over lon/lat degrees: geodetic
    latitudes are mapped to AUTHALIC latitudes (area-preserving), then the
    spherical shoelace (Chamberlain & Duquette 2007) runs on the authalic
    sphere — exact up to edge-path shape (geodesic edges vs mapped great
    circles differ O(f * edge_len²); vertex-dense rings converge to the
    GeographicLib values the reference uses). Holes subtracted."""
    kind, d = g
    if kind == "multipolygon":
        return sum(geodesic_area(("polygon", p), radius) for p in d)
    if kind != "polygon":
        return 0.0

    def ring_area(ring):
        lon = np.radians(ring[:, 0])
        lat = _authalic_lat(np.radians(ring[:, 1]))
        s = ((lon[1:] - lon[:-1]) * (2 + np.sin(lat[:-1]) + np.sin(lat[1:]))).sum()
        return abs(s) * radius * radius / 2.0

    if not d:
        return 0.0
    return ring_area(d[0]) - sum(ring_area(r) for r in d[1:])


# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

def _fmt_pts(pts) -> str:
    return ", ".join(f"{p[0]:.10g} {p[1]:.10g}" for p in np.asarray(pts))


def to_wkt(g) -> str:
    kind, d = g
    if kind == "point":
        return f"POINT ({d[0]:.10g} {d[1]:.10g})"
    if kind == "linestring":
        return f"LINESTRING ({_fmt_pts(d)})"
    if kind == "polygon":
        rings = ", ".join(f"({_fmt_pts(r)})" for r in d)
        return f"POLYGON ({rings})"
    if kind == "multipoint":
        return f"MULTIPOINT ({_fmt_pts(np.asarray(d).reshape(-1, 2))})"
    if kind == "multilinestring":
        parts = ", ".join(f"({_fmt_pts(p)})" for p in d)
        return f"MULTILINESTRING ({parts})"
    parts = ", ".join(
        "(" + ", ".join(f"({_fmt_pts(r)})" for r in p) + ")" for p in d
    )
    return f"MULTIPOLYGON ({parts})"


def from_wkt(s: str):
    s = s.strip()
    up = s.upper()

    def nums(txt):
        return [tuple(map(float, p.split())) for p in txt.split(",")]

    def inner(txt, open_=1):
        i = txt.index("(")
        depth, j = 0, i
        for j in range(i, len(txt)):
            if txt[j] == "(":
                depth += 1
            elif txt[j] == ")":
                depth -= 1
                if depth == 0:
                    break
        return txt[i + 1 : j]

    def split_top(txt):
        out, depth, cur = [], 0, []
        for ch in txt:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur:
            out.append("".join(cur))
        return [t.strip() for t in out]

    body = inner(s)
    if up.startswith("POINT"):
        (xy,) = nums(body)
        return ("point", np.array(xy))
    if up.startswith("LINESTRING"):
        return ("linestring", np.array(nums(body)))
    if up.startswith("POLYGON"):
        rings = [np.array(nums(r.strip()[1:-1])) for r in split_top(body)]
        return ("polygon", rings)
    if up.startswith("MULTIPOINT"):
        body2 = body.replace("(", "").replace(")", "")
        return ("multipoint", np.array(nums(body2)))
    if up.startswith("MULTILINESTRING"):
        return ("multilinestring",
                [np.array(nums(p.strip()[1:-1])) for p in split_top(body)])
    if up.startswith("MULTIPOLYGON"):
        polys = []
        for ptxt in split_top(body):
            rings = [np.array(nums(r.strip()[1:-1]))
                     for r in split_top(ptxt.strip()[1:-1])]
            polys.append(rings)
        return ("multipolygon", polys)
    raise ValueError(f"unsupported WKT {s[:40]}")
