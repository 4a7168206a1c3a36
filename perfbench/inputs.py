"""Seeded benchmark inputs, written as parquet for the program to read.

Every table is a pure function of (seed, sizes). The seed picks a row-index
offset into the fixture generators of ``gdal_spark.fixtures.images``; the
offset is a multiple of 60, the least common multiple of the width, height,
format and gsd cycles, so every seed gets the same mix of image shapes. Sizes
that are multiples of 60 keep that mix exact.

Each seed owns a block of ``BLOCK`` row indices. Inside a block the tables
take disjoint ranges, and the warm-up inputs come from the tail of the
block, so a warm-up never touches the measured rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gdal_spark.codecs.registry import encode
from gdal_spark.fixtures.images import (
    FMT_CYCLE,
    H_CYCLE,
    W_CYCLE,
    make_pixels,
    row_meta,
)
from gdal_spark.fixtures.tile_grid import wkb_polygon
from gdal_spark.oracle import mercator as M

BLOCK = 600_000  # row indices reserved per seed; a multiple of 60
SEEDS = 10_000  # seeds wrap around after this many blocks
# start of each table inside a block (measured tables, then warm-up tables)
POINTS_AT, POLYS_AT, QUERIES_AT, CANDS_AT = 0, 300_000, 400_000, 450_000
WARM_AT = 540_000
NOISE_KEY = 20_260_101  # Philox key of the noise pixels and point jitter
# One image in four carries noise pixels: the residues r with 7r mod 60 < 15
# spread evenly over every size, format and gsd cycle.
NOISE_RESIDUES = frozenset((43 * j) % 60 for j in range(15))


def offset(seed: int) -> int:
    return BLOCK * (seed % SEEDS)


def image_pixels(i: int, noisy: bool) -> np.ndarray:
    w = W_CYCLE[i % len(W_CYCLE)]
    h = H_CYCLE[i % len(H_CYCLE)]
    if noisy and i % 60 in NOISE_RESIDUES:
        rng = np.random.Generator(np.random.Philox(key=NOISE_KEY, counter=i))
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return make_pixels(w, h)


def images_pdf(start: int, n: int, noisy: bool) -> pd.DataFrame:
    """Image rows [start, start+n) in the fixture schema. ``noisy`` swaps a
    quarter of the gradients for seeded noise, which PNG cannot shrink."""
    idx = np.arange(start, start + n, dtype=np.int64)
    meta = row_meta(idx)
    meta.insert(1, "bytes", [
        encode(image_pixels(int(i), noisy), FMT_CYCLE[int(i) % len(FMT_CYCLE)])
        for i in idx
    ])
    return meta.drop(columns=["caption", "phash"])


def points_pdf(start: int, n: int, id_col: str = "pid") -> pd.DataFrame:
    """Caption points: the fixture image centers (20% in the hot cluster)
    jittered by N(0, 0.1 deg) from one Philox stream keyed by ``start``."""
    idx = np.arange(start, start + n, dtype=np.int64)
    meta = row_meta(idx)
    rng = np.random.Generator(np.random.Philox(key=NOISE_KEY, counter=start))
    jit = rng.normal(0.0, 0.1, size=(n, 2))
    lon = np.clip(meta["lon"].to_numpy() + jit[:, 0], -180.0, 180.0 - 1e-9)
    lat = np.clip(meta["lat"].to_numpy() + jit[:, 1], -M.MAX_LAT, M.MAX_LAT)
    return pd.DataFrame({id_col: idx, "lon": lon, "lat": lat})


def diamonds_pdf(start: int, n: int) -> pd.DataFrame:
    """Diamond polygons in EPSG:3857 around the fixture centers: 40 km
    half-diagonal, and 2 km for the one polygon in 41 that sits in the hot
    cluster (every hot polygon meets all the hot points of its z8 cell)."""
    idx = np.arange(start, start + 2 * n, dtype=np.int64)
    idx = idx[(idx % 5 != 0) | (idx % 50 == 0)][:n]
    meta = row_meta(idx)
    mx, my = M.lonlat_to_meters(meta["lon"].to_numpy(), meta["lat"].to_numpy())
    mx, my = np.asarray(mx, dtype=np.float64), np.asarray(my, dtype=np.float64)
    r = np.where(idx % 5 == 0, 2_000.0, 40_000.0)
    wkb = [
        wkb_polygon([(x + s, y), (x, y + s), (x - s, y), (x, y - s), (x + s, y)])
        for x, y, s in zip(mx, my, r)
    ]
    return pd.DataFrame({
        "poly_id": idx, "minx": mx - r, "miny": my - r,
        "maxx": mx + r, "maxy": my + r, "wkb": wkb,
    })


def write_parquet(pdf: pd.DataFrame, path: str, row_groups: int = 16) -> str:
    """One parquet file in directory ``path``, cut into row groups so that
    Spark's scan splits it across cores."""
    os.makedirs(path, exist_ok=True)
    rows = max(1, -(-len(pdf) // row_groups))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-00000.parquet"), row_group_size=rows)
    return path


def generate(seed: int, sizes: dict, warm: bool = False,
             noisy: bool = False) -> dict:
    """The tables named in ``sizes`` (images, points, polygons, queries,
    candidates) as pandas frames."""
    base = offset(seed) + (WARM_AT if warm else 0)
    at = {"images": 0, "points": POINTS_AT, "polygons": POLYS_AT,
          "queries": QUERIES_AT, "candidates": CANDS_AT}
    if warm:  # the warm-up tables share the block's tail, one after another
        at, pos = {}, 0
        for name in ("images", "points", "polygons", "queries", "candidates"):
            at[name] = pos
            pos += 2 * sizes.get(name, 0)
    out = {}
    for name, n in sizes.items():
        start = base + at[name]
        if name == "images":
            out[name] = images_pdf(start, n, noisy)
        elif name == "polygons":
            out[name] = diamonds_pdf(start, n)
        else:
            out[name] = points_pdf(start, n, "sid" if name == "candidates" else "pid")
    return out


def write_tables(pdfs: dict, root: str) -> dict:
    """Write each frame under ``root``. Returns {table: (path, frame)}."""
    return {name: (write_parquet(pdf, os.path.join(root, name)), pdf)
            for name, pdf in pdfs.items()}
