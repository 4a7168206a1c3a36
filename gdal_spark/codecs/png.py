"""Minimal, dependency-free PNG codec (stdlib zlib + numpy).

Real PNG (RFC 2083) — 8-bit grayscale (color type 0) and RGB (color type 2),
all five scanline filters on decode, filter 0 on encode. This is the lossless
path of the image-bytes column: no Pillow/imagecodecs in this environment, so
the container format is implemented directly (public spec), playing the role
of the reference's PNG driver (/root/reference/frmts/png/) for the tile sink
(gdal2tiles writes PNG tiles, gdal2tiles.py:1278-1434).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode (H, W) or (H, W, 3) uint8 -> PNG bytes."""
    a = np.ascontiguousarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_png: uint8 only")
    if a.ndim == 2:
        color_type, channels = 0, 1
    elif a.ndim == 3 and a.shape[2] in (1, 2, 3, 4):
        channels = a.shape[2]
        if channels == 1:
            a = a[:, :, 0]
        # gray / gray+alpha / RGB / RGBA
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    else:
        raise ValueError(f"encode_png: unsupported shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter 1 (Sub) on every scanline: horizontal-gradient imagery becomes
    # near-constant diff rows (vectorized via uint8 wraparound subtract)
    flat = a.reshape(h, w * channels)
    raw = np.empty((h, w * channels + 1), dtype=np.uint8)
    raw[:, 0] = 1
    raw[:, 1 : 1 + channels] = flat[:, :channels]
    np.subtract(flat[:, channels:], flat[:, :-channels], out=raw[:, 1 + channels :])
    idat = zlib.compress(raw, 6)
    return _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_png_paletted(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Encode (H, W) uint8 index raster + (n<=256, 3) uint8 palette ->
    paletted PNG (color type 3 with a PLTE chunk, RFC 2083 §4.1.2) — the
    on-disk shape of the reference's paletted rasters
    (/root/reference/frmts/png/pngdataset.cpp writes PLTE from the band's
    GDALColorTable)."""
    a = np.ascontiguousarray(indices)
    pal = np.ascontiguousarray(palette, dtype=np.uint8)
    if a.dtype != np.uint8 or a.ndim != 2:
        raise ValueError("encode_png_paletted: (H, W) uint8 indices only")
    if pal.ndim != 2 or pal.shape[1] != 3 or pal.shape[0] > 256:
        raise ValueError("encode_png_paletted: palette must be (n<=256, 3)")
    if a.size and int(a.max()) >= pal.shape[0]:
        raise ValueError("encode_png_paletted: index beyond palette")
    h, w = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter None: index values are categorical, Sub gains nothing
    raw[:, 1:] = a
    idat = zlib.compress(raw, 6)
    return (_SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal.tobytes())
            + _chunk(b"IDAT", idat) + _chunk(b"IEND", b""))


def png_palette(data: bytes) -> np.ndarray | None:
    """Return the PLTE color table as (n, 3) uint8, or None if absent —
    GetColorTable (gcore/gdalrasterband.cpp) over the PNG container."""
    if data[:8] != _SIGNATURE:
        raise ValueError("png: bad signature")
    pos = 8
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        if tag == b"PLTE":
            pal = np.frombuffer(data[pos + 8 : pos + 8 + length], dtype=np.uint8)
            return pal.reshape(-1, 3).copy()
        if tag in (b"IDAT", b"IEND"):
            return None
        pos += 12 + length
    return None


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters; raw is (h, 1+stride) uint8."""
    filters = raw[:, 0]
    if not filters.any():
        # filter 0 everywhere: no per-row work
        return np.ascontiguousarray(raw[:, 1:])
    if (filters == 1).all():
        # Sub everywhere (our encoder's output): cumulative sum mod 256 per
        # channel lane, fully vectorized
        h2 = raw.shape[0]
        lanes = raw[:, 1:].reshape(h2, stride // bpp, bpp)
        # uint8 cumsum wraps mod 256 — exactly the Sub reconstruction
        out = np.cumsum(lanes, axis=1, dtype=np.uint8)
        return out.reshape(h2, stride)
    if ((filters == 0) | (filters == 2)).all():
        # None/Up only: vectorized cumulative sum over up-filtered runs
        out = raw[:, 1:].astype(np.int64)
        for y in range(1, h):
            if filters[y] == 2:
                out[y] += out[y - 1]
                out[y] &= 0xFF
        return out.astype(np.uint8)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        prev = out[y - 1].astype(np.int64) if y > 0 else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            out[y] = line.astype(np.uint8)
        elif ft == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need sequential x
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if ft == 1:
                    v = line[x] + left
                elif ft == 3:
                    v = line[x] + (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                    v = line[x] + pred
                cur[x] = v & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise ValueError(f"png: bad filter type {ft}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes -> (H, W) or (H, W, 3) uint8."""
    if data[:8] != _SIGNATURE:
        raise ValueError("png: bad signature")
    pos = 8
    w = h = None
    color_type = bit_depth = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8 or color_type not in (0, 2, 3, 4, 6) or interlace != 0:
                raise ValueError(
                    "png: only 8-bit gray/GA/paletted/RGB/RGBA non-interlaced"
                    " supported"
                )
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    # color type 3 (paletted): the band holds palette INDICES, like the
    # reference's RasterIO on a paletted band; expansion via the color
    # table is an explicit translate -expand step, not a decode side effect
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, stride + 1)
    out = _unfilter(raw, h, stride, channels)
    return out.reshape(h, w) if channels == 1 else out.reshape(h, w, channels)
