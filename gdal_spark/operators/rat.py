"""Raster attribute tables — the classification workflow surface of the
reference's GDALRasterAttributeTable (gcore/gdal_rat.cpp; usages
GFU_MinMax/GFU_Min/GFU_Max/GFU_PixelCount/GFU_Name, table types
GRTT_THEMATIC value-rows and GRTT_ATHEMATIC min/max range-rows).

Spark-first shape: a RAT is a SMALL dimension table — kilobytes — so it
broadcasts; the raster side stays a map-only Arrow pass.  Nothing here
shuffles except the per-value histogram groupBy (map-side combined)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..oracle.checksum import checksum_image
from .imagemap import map_images


def default_rat(images: DataFrame, band: int = 1) -> DataFrame:
    """GetDefaultRAT + GetHistogram shape (gcore/gdal_rat.cpp
    GDALDefaultRasterAttributeTable; gdalrasterband.cpp:4224): one
    thematic row per distinct band value per image — columns VALUE
    (GFU_MinMax) and COUNT (GFU_PixelCount).  Per-image np.bincount in
    the decode pass, exploded to rows; no corpus-wide shuffle."""

    def per_image(a, r):
        b = a[..., band - 1] if a.ndim == 3 else a
        cnt = np.bincount(b.ravel(), minlength=256)
        for v in np.nonzero(cnt)[0]:
            yield dict(image_id=r.image_id, value=int(v),
                       count=int(cnt[v]))

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, value int, count long", per_image)


def rat_row_of_value(rat_rows: list, value: float) -> int:
    """GetRowOfValue (gdal_rat.cpp GDALDefaultRasterAttributeTable::
    GetRowOfValue): range rows match min <= v < max (the reference's
    half-open convention for athematic tables); -1 when no row matches.
    ``rat_rows`` = [(vmin, vmax, class_id, name), ...]."""
    for vmin, vmax, class_id, _name in rat_rows:
        if vmin <= value < vmax:
            return int(class_id)
    return -1


def classify_with_rat(images: DataFrame, rat_rows: list,
                      band: int = 1) -> DataFrame:
    """Classify a band through an athematic (min/max range) RAT — the
    reference's classification workflow (gdal_rat.cpp GetRowOfValue per
    pixel, vectorized here as one searchsorted over the sorted range
    mins).  The RAT is driver-side metadata (broadcast with the closure);
    the raster pass is map-only.  Returns per image: the number of
    distinct classes present, the GDALChecksumImage of the class-id
    raster, and the pixel count of each RAT class (array column)."""
    rows = sorted(rat_rows, key=lambda r: r[0])
    mins = np.array([r[0] for r in rows], dtype=np.float64)
    maxs = np.array([r[1] for r in rows], dtype=np.float64)
    cids = np.array([r[2] for r in rows], dtype=np.int64)
    n_rows = len(rows)

    def per_image(a, r):
        b = (a[..., band - 1] if a.ndim == 3 else a).astype(
            np.float64)
        idx = np.searchsorted(mins, b.ravel(), side="right") - 1
        ok = (idx >= 0) & (b.ravel() < maxs[np.clip(idx, 0, None)])
        cls = np.where(ok, cids[np.clip(idx, 0, n_rows - 1)], -1)
        counts = [int((cls == r2[2]).sum()) for r2 in rows]
        cls_img = cls.reshape(b.shape).astype(np.int64)
        yield dict(
            image_id=r.image_id,
            n_classes=int(len(np.unique(cls[cls >= 0]))),
            cs=int(checksum_image(np.clip(cls_img, 0, 255)
                                  .astype(np.uint8))[0]),
            class_counts=counts,
        )

    return map_images(
        images, ["image_id", "bytes"],
        "image_id string, n_classes int, cs long, class_counts array<long>",
        per_image)
