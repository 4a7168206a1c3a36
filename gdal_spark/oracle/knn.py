"""Brute-force nearest-neighbor oracle.

Mirrors the exhaustive min-distance branch of the reference's
``GDALGridNearestNeighbor`` (alg/gdalgrid.cpp:905-1014 in the reference):
the quadtree + radius-doubling search there is an accelerator whose result
must equal the plain argmin over all candidates — that equality is exactly
what our tests assert about the Spark cell-map kNN operator.
"""

from __future__ import annotations

import numpy as np


def brute_force_knn(qx, qy, px, py, k=1):
    """For each query point, indices of the k nearest candidate points by
    squared Euclidean distance (ties broken by lower index, matching a stable
    argsort). Returns (N, k) int64 indices and (N, k) distances."""
    qx = np.asarray(qx, dtype=np.float64)[:, None]
    qy = np.asarray(qy, dtype=np.float64)[:, None]
    px = np.asarray(px, dtype=np.float64)[None, :]
    py = np.asarray(py, dtype=np.float64)[None, :]
    d2 = (qx - px) ** 2 + (qy - py) ** 2
    idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
    dist = np.sqrt(np.take_along_axis(d2, idx, axis=1))
    return idx.astype(np.int64), dist
