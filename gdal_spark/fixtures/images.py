"""Deterministic synthetic image + caption table (the ``input_hint`` schema).

Every column is a pure function of the row index ``i`` (seed fixed at 42 via
counter-based Philox streams), so generation is order-independent and can be
fanned out over Spark partitions while remaining bit-reproducible — the same
property GDAL's golden fixtures get from being checked-in files
(/root/reference/autotest/gcore/data/byte.tif, 20x20 uint8, checksum 4672).

Schema (FIXTURES.md §1):
  image_id string, bytes binary, w int, h int, fmt string, caption string,
  phash long, lon double, lat double, gsd_m double

Pixel content: band 1 = ``(x + y*w) % 256`` (the byte.tif-style gradient),
band 2 = ``(x*3) % 256``, band 3 = ``(y*7) % 256``.
20% of rows cluster within ±0.5° of (2.3, 48.8) to exercise skew handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..codecs.registry import encode

SEED = 42
W_CYCLE = (20, 64, 256, 257, 512)
H_CYCLE = (20, 64, 256, 300, 512)
FMT_CYCLE = ("png", "jpeg", "webp")
GSD_CYCLE = (10.0, 50.0, 100.0, 500.0)
HOT_LON, HOT_LAT = 2.3, 48.8
_PHI = 0.6180339887498949  # frac(golden ratio)
_PHI2 = 0.7548776662466927  # frac of plastic-number powers (2D low discrepancy)
_PHI3 = 0.5698402909980532

_WORDS = (
    "satellite aerial ortho scene tile mosaic cloud shadow field river road "
    "city forest coast desert snow urban rural harbor island bridge valley "
    "ridge delta plateau lagoon glacier dune canyon reef marsh"
).split()

def _frac(x):
    return x - np.floor(x)


def _splitmix64(i):
    """Deterministic 64-bit mix of the row index (public SplitMix64 constants)."""
    z = (np.asarray(i, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(1)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def row_meta(indices) -> pd.DataFrame:
    """Metadata columns (everything except ``bytes``) for the given indices."""
    i = np.asarray(indices, dtype=np.int64)
    n = i.size
    w = np.array(W_CYCLE, dtype=np.int32)[i % len(W_CYCLE)]
    h = np.array(H_CYCLE, dtype=np.int32)[i % len(H_CYCLE)]
    fmt = np.array(FMT_CYCLE, dtype=object)[i % len(FMT_CYCLE)]
    gsd = np.array(GSD_CYCLE)[i % len(GSD_CYCLE)]

    hot = (i % 5) == 0  # 20% skew cluster
    u = _frac(i * _PHI)
    v = _frac(i * _PHI2)
    lon = np.where(hot, HOT_LON + (u - 0.5) * 1.0, u * 360.0 - 180.0)
    lat = np.where(hot, HOT_LAT + (v - 0.5) * 1.0, (v * 2.0 - 1.0) * 85.05)

    phash = _splitmix64(i).astype(np.int64)
    wi = (_frac(i * _PHI3) * len(_WORDS)).astype(np.int64)
    caption = np.array(
        [
            f"caption {int(ii)} {_WORDS[int(a)]} {_WORDS[int((a + 7) % len(_WORDS))]} "
            f"{_WORDS[int((a * 3 + 1) % len(_WORDS))]}"
            for ii, a in zip(i, wi)
        ],
        dtype=object,
    )
    return pd.DataFrame(
        {
            "image_id": np.array([f"img{int(ii):08d}" for ii in i], dtype=object),
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": phash,
            "lon": lon,
            "lat": lat,
            "gsd_m": gsd,
        }
    )


def make_pixels(w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 deterministic gradient per FIXTURES.md."""
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    b1 = (x + y * w) % 256
    b2 = np.broadcast_to((x * 3) % 256, (h, w))
    b3 = np.broadcast_to((y * 7) % 256, (h, w))
    return np.stack([b1, b2, b3], axis=2).astype(np.uint8)


def encode_row(i: int) -> bytes:
    w = W_CYCLE[i % len(W_CYCLE)]
    h = H_CYCLE[i % len(H_CYCLE)]
    fmt = FMT_CYCLE[i % len(FMT_CYCLE)]
    return encode(make_pixels(w, h), fmt)


def generate_images_pdf(n: int, start: int = 0, with_bytes: bool = True) -> pd.DataFrame:
    """Pandas DataFrame of rows [start, start+n) in input_hint column order."""
    idx = np.arange(start, start + n, dtype=np.int64)
    meta = row_meta(idx)
    if with_bytes:
        meta.insert(1, "bytes", [encode_row(int(i)) for i in idx])
    cols = ["image_id"] + (["bytes"] if with_bytes else []) + [
        "w", "h", "fmt", "caption", "phash", "lon", "lat", "gsd_m"
    ]
    return meta[cols]


IMAGES_SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double, gsd_m double"
)


def images_df(spark, n: int, partitions: int | None = None):
    """Distributed deterministic generation: spark.range → mapInPandas encode.

    The encode happens executor-side in Arrow batches; at real scale this is
    the 'scan' of an Iceberg table — here the generator IS the source.
    """
    from ..runtime import ensure_runtime

    ensure_runtime(spark)
    if partitions is None:
        partitions = max(8, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            out = row_meta(idx)
            out.insert(1, "bytes", [encode_row(int(i)) for i in idx])
            yield out[
                ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                 "lon", "lat", "gsd_m"]
            ]

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=IMAGES_SCHEMA_DDL)
    )


def write_images_parquet(spark, path: str, n: int, partitions: int | None = None):
    """Materialize the synthetic table once (bench/test cache)."""
    images_df(spark, n, partitions).write.mode("overwrite").parquet(path)
    return path


# Deterministic PCT for the paletted fixture family: three coprime affine
# cycles over a 251-entry (prime) table — every channel is a closed-form
# function of the palette index, so -expand output checksums replay in SQL.
PALETTE_N = 251


def palette_table() -> np.ndarray:
    j = np.arange(PALETTE_N, dtype=np.int64)
    return np.stack(
        [(7 * j + 1) % 256, (13 * j + 5) % 256, (29 * j + 11) % 256], axis=1
    ).astype(np.uint8)


def paletted_images_df(spark, n: int, partitions: int | None = None):
    """Distributed paletted-PNG fixtures (color type 3 + PLTE): index band
    is ``(flat*3) % 251`` over the W/H size cycle — the paletted analogue of
    the reference's paletted test rasters (frmts/png paletted goldens)."""
    from ..codecs.png import encode_png_paletted
    from ..runtime import ensure_runtime

    ensure_runtime(spark)
    if partitions is None:
        partitions = max(8, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    pal = palette_table()

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                w = W_CYCLE[int(i) % 5]
                h = H_CYCLE[int(i) % 5]
                flat = np.arange(w * h, dtype=np.int64)
                idx = ((flat * 3) % PALETTE_N).astype(np.uint8).reshape(h, w)
                rows.append(
                    dict(image_id=f"pal{int(i):08d}",
                         bytes=bytearray(encode_png_paletted(idx, pal)))
                )
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema="image_id string, bytes binary"
    )
