"""Format dispatch for the ``bytes``/``fmt`` image columns — the engine's
analogue of GDAL's driver-identify step
(/root/reference/gcore/gdalopeninfo.cpp magic-byte probing across drivers).

``decode(data, fmt)`` / ``encode(arr, fmt)`` dispatch on the fmt string; when
Pillow is importable the real JPEG/WEBP codecs are used, otherwise the
deterministic fake-lossy codec (see fakelossy.py). PNG is always the real
format (pure zlib implementation).
"""

from __future__ import annotations

import io

import numpy as np

from .fakelossy import decode_fake_lossy, encode_fake_lossy
from .png import decode_png, encode_png

try:  # pragma: no cover - not available in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def encode(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(arr)
    if fmt in ("pnm", "pgm", "ppm"):
        from .pnm import encode_pnm

        return encode_pnm(arr)
    if fmt in ("cog", "tiff"):
        from .cog import encode_cog

        return encode_cog(arr)
    if fmt in ("jpeg", "webp"):
        if _HAVE_PIL:  # pragma: no cover
            buf = io.BytesIO()
            Image.fromarray(arr).save(buf, format="JPEG" if fmt == "jpeg" else "WEBP",
                                      quality=95)
            return buf.getvalue()
        return encode_fake_lossy(arr, fmt)
    raise ValueError(f"unknown image format {fmt!r}")


def decode(data: bytes, fmt: str | None = None) -> np.ndarray:
    """Decode by magic bytes (fmt is a hint only, like GDAL's open-info probe)."""
    head = bytes(data[:8])
    if head[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(bytes(data))
    if head[:4] in (b"FAKJ", b"FAKW"):
        return decode_fake_lossy(bytes(data))
    if head[:4] == b"II*\x00":  # little-endian TIFF / COG
        from .cog import decode_cog

        return decode_cog(bytes(data))[0]
    if head[:2] in (b"P5", b"P6"):
        from .pnm import decode_pnm

        return decode_pnm(bytes(data))
    if _HAVE_PIL:  # pragma: no cover
        return np.asarray(Image.open(io.BytesIO(bytes(data))))
    raise NotImplementedError(
        f"no codec for payload starting {head!r} (fmt hint {fmt!r}); "
        "real JPEG/WEBP need Pillow, absent in this environment"
    )


def identify(data: bytes) -> str:
    """Driver identify by magic bytes (gcore/gdalopeninfo.cpp probing):
    returns the short driver name without decoding the payload."""
    head = bytes(data[:8])
    if head[:8] == b"\x89PNG\r\n\x1a\n":
        return "PNG"
    if head[:4] == b"FAKJ":
        return "JPEG"
    if head[:4] == b"FAKW":
        return "WEBP"
    if head[:4] == b"II*\x00":
        return "GTiff"
    if head[:2] in (b"P5", b"P6"):
        return "PNM"
    if head[:2] == b"GP":
        return "GPKG-geom"
    return "UNKNOWN"


def palette(data: bytes) -> np.ndarray | None:
    """Color table of a paletted payload ((n, 3) uint8) or None — the
    GetColorTable step of the identify/open probe."""
    if bytes(data[:8]) == b"\x89PNG\r\n\x1a\n":
        from .png import png_palette

        return png_palette(bytes(data))
    return None
