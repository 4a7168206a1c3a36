"""Point-in-ring (even-odd ray cast) — pure-numpy clone of the reference's
``OGRLinearRing::isPointInRing`` semantics
(/root/reference/ogr/ogrlinearring.cpp:452-517):

* rings with < 4 points are never "inside";
* optional envelope pre-test (inclusive on all edges);
* crossing test: for each segment (p[i-1], p[i]) translated so the test point
  is the origin, count a crossing iff the segment straddles the x-axis
  (``(y1 > 0) != (y2 > 0)`` with the reference's exact ``>0`` / ``<=0`` split)
  and the intersection x ``(x1*y2 - x2*y1)/(y2 - y1)`` is strictly positive;
* inside iff the crossing count is odd.

Vectorized over many points at once (points × one ring), which is the batch
shape the pandas-UDF refine step uses.
"""

from __future__ import annotations

import numpy as np


def point_in_ring(xs, ys, ring_xy, test_envelope=True):
    """Even-odd ray cast of many points against one ring.

    Parameters
    ----------
    xs, ys : (N,) float arrays — test points.
    ring_xy : (M, 2) float array — closed ring (first == last point expected,
        as OGR linear rings are closed); M >= 4 required for any hit.
    test_envelope : apply the inclusive bbox pre-test first.

    Returns (N,) bool array.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    ring = np.asarray(ring_xy, dtype=np.float64)
    n = xs.shape[0]
    if ring.shape[0] < 4:
        return np.zeros(n, dtype=bool)

    alive = np.ones(n, dtype=bool)
    if test_envelope:
        minx, miny = ring[:, 0].min(), ring[:, 1].min()
        maxx, maxy = ring[:, 0].max(), ring[:, 1].max()
        alive = (xs >= minx) & (xs <= maxx) & (ys >= miny) & (ys <= maxy)

    # Translate ring so each test point is the origin: (M,1) - (N,) -> (M,N)
    rx = ring[:, 0][:, None] - xs[None, :]
    ry = ring[:, 1][:, None] - ys[None, :]

    x1, y1 = rx[1:], ry[1:]      # segment end   (iPoint)
    x2, y2 = rx[:-1], ry[:-1]    # segment start (iPoint - 1)

    straddles = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
    denom = np.where(straddles, y2 - y1, 1.0)  # avoid div-by-zero off-branch
    intersection = (x1 * y2 - x2 * y1) / denom
    crossings = (straddles & (intersection > 0.0)).sum(axis=0)

    return alive & ((crossings % 2) != 0)


def box_ring(minx, miny, maxx, maxy):
    """Closed 5-point CCW ring for an axis-aligned box (the tile polygons the
    spatial join refines against)."""
    return np.array(
        [
            [minx, miny],
            [maxx, miny],
            [maxx, maxy],
            [minx, maxy],
            [minx, miny],
        ],
        dtype=np.float64,
    )
