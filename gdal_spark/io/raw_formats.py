"""ENVI raw-binary and XYZ ASCII raster sinks/sources — the reference's
``frmts/raw/envidataset.cpp`` (.hdr text header + raw samples, BSQ/BIL/BIP
interleave) and ``frmts/xyz/xyzdataset.cpp`` (one ``x y z`` line per cell
at georeferenced centers, x fastest, constant spacing).

Per-image files like the AAIGrid sink: written executor-side in parallel
(``io.files.write_images``), read back executor-parallel
(``io.files.read_files``).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from ..oracle.tiling import geotransform_3857
from .files import read_files, write_images

# ---------------------------------------------------------------------------
# ENVI
# ---------------------------------------------------------------------------


def envi_header(w: int, h: int, bands: int, gt, interleave: str = "bsq"
                ) -> str:
    """ENVI .hdr text (envidataset.cpp WriteHeader): samples/lines/bands,
    uint8 data type (1), band names omitted, map info anchored at the
    upper-left CORNER with square pixel sizes from the geotransform."""
    if interleave not in ("bsq", "bil", "bip"):
        raise ValueError(f"bad interleave {interleave!r}")
    return (
        "ENVI\n"
        "description = {gdal_spark export}\n"
        f"samples = {w}\n"
        f"lines = {h}\n"
        f"bands = {bands}\n"
        "header offset = 0\n"
        "file type = ENVI Standard\n"
        "data type = 1\n"
        f"interleave = {interleave}\n"
        "byte order = 0\n"
        f"map info = {{Projected, 1, 1, {gt[0]:.12f}, {gt[3]:.12f}, "
        f"{gt[1]:.12f}, {abs(gt[5]):.12f}, units=Meters}}\n"
    )


def encode_envi(arr: np.ndarray, interleave: str = "bsq") -> bytes:
    """HxWxC uint8 -> raw bytes in the requested interleave."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if interleave == "bsq":      # band-sequential: C planes of HxW
        return np.ascontiguousarray(a.transpose(2, 0, 1)).tobytes()
    if interleave == "bil":      # line-interleaved: H blocks of CxW
        return np.ascontiguousarray(a.transpose(0, 2, 1)).tobytes()
    if interleave == "bip":      # pixel-interleaved: HxWxC as-is
        return np.ascontiguousarray(a).tobytes()
    raise ValueError(f"bad interleave {interleave!r}")


def parse_envi(hdr_text: str, raw: bytes):
    """(.hdr text, raw bytes) -> (HxWxC uint8, gt)."""
    fields = {}
    for line in hdr_text.splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            fields[k.strip().lower()] = v.strip()
    w = int(fields["samples"])
    h = int(fields["lines"])
    c = int(fields["bands"])
    il = fields.get("interleave", "bsq").lower()
    if int(fields.get("data type", "1")) != 1:
        raise ValueError("only uint8 (data type = 1) supported")
    a = np.frombuffer(raw, dtype=np.uint8, count=w * h * c)
    if il == "bsq":
        px = a.reshape(c, h, w).transpose(1, 2, 0)
    elif il == "bil":
        px = a.reshape(h, c, w).transpose(0, 2, 1)
    elif il == "bip":
        px = a.reshape(h, w, c)
    else:
        raise ValueError(f"bad interleave {il!r}")
    mi = fields["map info"].strip("{} ").split(",")
    ulx, uly, dx, dy = (float(mi[3]), float(mi[4]), float(mi[5]),
                        float(mi[6]))
    gt = [ulx, dx, 0.0, uly, 0.0, -dy]
    return np.ascontiguousarray(px), gt


def write_envi(images: DataFrame, out_dir: str, interleave: str = "bsq"
               ) -> int:
    """One ``{image_id}.img`` + ``{image_id}.hdr`` per image, written
    executor-side by ``io.files.write_images``. Returns images written
    (two files each)."""
    def per_image(px, r):
        gt = geotransform_3857(r.lon, r.lat, px.shape[1], px.shape[0],
                               r.gsd_m)
        hdr = envi_header(px.shape[1], px.shape[0],
                          1 if px.ndim == 2 else px.shape[2], gt, interleave)
        return [(f"{r.image_id}.img", encode_envi(px, interleave)),
                (f"{r.image_id}.hdr", hdr.encode("ascii"))]

    return write_images(images, out_dir, per_image)


def read_envi(spark, in_dir: str):
    """Directory of .img/.hdr pairs -> (image_id, PNG-re-encoded bytes,
    w, h, gt) rows, executor-parallel."""
    stems = sorted(f[:-4] for f in os.listdir(in_dir) if f.endswith(".img"))

    def load(batch):
        from ..codecs.png import encode_png

        for stem in batch:
            base = os.path.join(in_dir, stem)
            with open(base + ".hdr", "rb") as fh:
                hdr = fh.read().decode("ascii")
            with open(base + ".img", "rb") as fh:
                raw = fh.read()
            px, gt = parse_envi(hdr, raw)
            yield (stem, bytearray(encode_png(px)), int(px.shape[1]),
                   int(px.shape[0]), [float(x) for x in gt])

    return read_files(
        spark, stems, load,
        "image_id string, png binary, w int, h int, gt array<double>")


# ---------------------------------------------------------------------------
# XYZ
# ---------------------------------------------------------------------------


def xyz_bytes(band: np.ndarray, gt) -> bytes:
    """One band -> ``x y z`` lines at cell CENTERS, x fastest, top-down
    (the ordering xyzdataset.cpp requires for constant-spacing open)."""
    a = np.asarray(band)
    h, w = a.shape
    xs = gt[0] + (np.arange(w) + 0.5) * gt[1]
    ys = gt[3] + (np.arange(h) + 0.5) * gt[5]
    gx, gy = np.meshgrid(xs, ys)
    if np.issubdtype(a.dtype, np.integer):
        zcol = [str(int(v)) for v in a.ravel()]
    else:
        zcol = [f"{v:.6f}" for v in a.ravel()]
    lines = "\n".join(
        f"{x:.6f} {y:.6f} {z}"
        for x, y, z in zip(gx.ravel(), gy.ravel(), zcol))
    return (lines + "\n").encode("ascii")


def parse_xyz(data: bytes):
    """XYZ text -> (band float64, gt). Grid shape inferred from the first
    y-change (constant-spacing contract, like the reference's open probe)."""
    rows = np.array(
        [ln.split() for ln in data.decode("ascii").strip().splitlines()],
        dtype=np.float64)
    ys = rows[:, 1]
    w = int(np.argmax(ys != ys[0])) or len(ys)
    h = len(rows) // w
    a = rows[:, 2].reshape(h, w)
    dx = rows[1, 0] - rows[0, 0] if w > 1 else 1.0
    dy = rows[w, 1] - rows[0, 1] if h > 1 else -abs(dx)
    gt = [rows[0, 0] - dx / 2, dx, 0.0, rows[0, 1] - dy / 2, 0.0, dy]
    return a, gt


def write_xyz(images: DataFrame, out_dir: str, band: int = 0) -> int:
    """One ``{image_id}.xyz`` per image, executor-side. Returns images
    written."""
    def per_image(px, r):
        a = px[:, :, band]
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        return [(f"{r.image_id}.xyz", xyz_bytes(a, gt))]

    return write_images(images, out_dir, per_image)


def read_xyz(spark, in_dir: str):
    """Directory of .xyz files -> (image_id, values, w, h, gt) rows."""
    files = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir)
        if f.endswith(".xyz"))

    def load(paths):
        for pth in paths:
            with open(pth, "rb") as fh:
                a, gt = parse_xyz(fh.read())
            yield (os.path.basename(pth)[:-4], a.ravel().tolist(),
                   int(a.shape[1]), int(a.shape[0]),
                   [float(x) for x in gt])

    return read_files(
        spark, files, load,
        "image_id string, values array<double>, w int, h int, "
        "gt array<double>")
