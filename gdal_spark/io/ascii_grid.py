"""Arc/Info ASCII Grid (AAIGrid) sink/source — the reference's
``frmts/aaigrid`` text raster: a 5-line header (``ncols/nrows/
xllcorner/yllcorner/cellsize``, written with the driver's %.12f
precision — aaigriddataset.cpp:1346-1352) plus optional
``NODATA_value``, then space-separated rows top-down.

Unlike the SQLite containers, each image is its OWN file, so the sink
writes executor-side in parallel (``io.files.write_images``) — one .asc
per image under the output directory.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from ..oracle.tiling import geotransform_3857
from .files import read_files, write_images


def ascii_grid_bytes(band: np.ndarray, gt, nodata: float | None = None
                     ) -> bytes:
    """One band + north-up geotransform -> .asc text bytes."""
    a = np.asarray(band)
    h, w = a.shape
    yll = gt[3] + h * gt[5] if gt[5] < 0 else gt[3]
    head = (f"ncols        {w}\n"
            f"nrows        {h}\n"
            f"xllcorner    {gt[0]:.12f}\n"
            f"yllcorner    {yll:.12f}\n"
            f"cellsize     {gt[1]:.12f}\n")
    if nodata is not None:
        head += f"NODATA_value  {nodata:g}\n"
    if np.issubdtype(a.dtype, np.integer):
        body = "\n".join(" ".join(str(int(v)) for v in row) for row in a)
    else:
        body = "\n".join(" ".join(f"{v:.6f}" for v in row) for row in a)
    return (head + body + "\n").encode("ascii")


def parse_ascii_grid(data: bytes):
    """.asc bytes -> (band float64, gt, nodata or None)."""
    text = data.decode("ascii").split("\n")
    hdr = {}
    i = 0
    while i < len(text):
        parts = text[i].split()
        if len(parts) == 2 and parts[0].lower() in (
                "ncols", "nrows", "xllcorner", "yllcorner", "cellsize",
                "nodata_value"):
            hdr[parts[0].lower()] = float(parts[1])
            i += 1
        else:
            break
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    cell = hdr["cellsize"]
    vals = np.array(" ".join(text[i:]).split(), dtype=np.float64)
    a = vals[: w * h].reshape(h, w)
    gt = [hdr["xllcorner"], cell, 0.0, hdr["yllcorner"] + h * cell, 0.0,
          -cell]
    return a, gt, hdr.get("nodata_value")


def write_ascii_grids(images: DataFrame, out_dir: str, band: int = 0,
                      nodata: float | None = None) -> int:
    """One ``{image_id}.asc`` per image, written executor-side by
    ``io.files.write_images`` (parallel across the corpus). Returns images
    written."""
    def per_image(px, r):
        a = px[:, :, band]
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        return [(f"{r.image_id}.asc", ascii_grid_bytes(a, gt, nodata))]

    return write_images(images, out_dir, per_image)


def read_ascii_grids(spark, in_dir: str):
    """Read a directory of .asc files back to (image_id, band float rows,
    gt) — executor-parallel, one task per file batch."""
    files = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir)
        if f.endswith(".asc"))

    def load(paths):
        for pth in paths:
            with open(pth, "rb") as fh:
                a, gt, _ = parse_ascii_grid(fh.read())
            yield (os.path.basename(pth)[:-4], a.ravel().tolist(),
                   int(a.shape[1]), int(a.shape[0]),
                   [float(x) for x in gt])

    return read_files(
        spark, files, load,
        "image_id string, values array<double>, w int, h int, "
        "gt array<double>")
