"""Caption-derived point fixture (FIXTURES.md §3): one point per image —
footprint center jittered by N(0, 0.1°) from a counter-based Philox stream
keyed by (SEED, row index), so the jitter is reproducible independent of
partitioning/order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..oracle import mercator as M
from .images import SEED, row_meta


def _jitter(indices):
    i = np.asarray(indices, dtype=np.int64)
    out = np.empty((i.size, 2), dtype=np.float64)
    for j, ii in enumerate(i):
        rng = np.random.Generator(np.random.Philox(key=SEED, counter=int(ii)))
        out[j] = rng.normal(0.0, 0.1, size=2)
    return out


def caption_points_pdf(n: int, start: int = 0, cell_res: int = 7) -> pd.DataFrame:
    idx = np.arange(start, start + n, dtype=np.int64)
    meta = row_meta(idx)
    jit = _jitter(idx)
    lon = np.clip(meta["lon"].to_numpy() + jit[:, 0], -180.0, 180.0 - 1e-9)
    lat = np.clip(meta["lat"].to_numpy() + jit[:, 1], -M.MAX_LAT, M.MAX_LAT)
    cell = M.cell_encode(lon, lat, cell_res)
    return pd.DataFrame(
        {
            "image_id": meta["image_id"],
            "lon": lon,
            "lat": lat,
            "cell_r7": cell.astype(np.int64),
        }
    )
