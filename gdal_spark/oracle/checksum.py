"""GDAL checksum aggregate — pure-numpy clone of ``GDALChecksumImage``'s
integer path (/root/reference/alg/gdalchecksum.cpp:48-260): position-weighted
modular sum ``sum(val % primes[i % 11]) & 0xffff`` over the window in row-major
order, primes = 7,11,13,17,19,23,29,31,37,41,43.

Used as the scalar golden oracle for tile pixel content (the reference's own
test style: ``assert band.Checksum() == 4672``,
autotest/utilities/test_gdal_translate.py:52).

uint8 bands (every tile) take a table lookup instead of int64 ``fmod``, and
only over the bounding box of the nonzero pixels: ``0 % p == 0``, and a
tile pasted from a partial source window is mostly zero canvas.
"""

from __future__ import annotations

import numpy as np

_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
_PRIME_CACHE: dict = {}

# value % prime for (prime index, uint8 value), flattened as index*256 + value.
# Prime indices run 0..20 and wrap mod 11, so a row part plus a column part
# (each < 11) indexes the table without a modulo.
_U8_REM = (np.arange(256) % np.resize(_PRIMES, 21)[:, None]).astype(np.uint8).ravel()


def _primes_for(n: int):
    pat = _PRIME_CACHE.get(n)
    if pat is None:
        pat = np.resize(_PRIMES, n)
        if len(_PRIME_CACHE) < 64:
            _PRIME_CACHE[n] = pat
    return pat


def _checksums_u8(a) -> list:
    """Checksums of every band of an (H, W) or (H, W, C) uint8 array in one
    pass over the interleaved (H, W*C) rows."""
    h, w = a.shape[0], a.shape[1]
    c = a.shape[2] if a.ndim == 3 else 1
    a = a.reshape(h, w * c)
    rows = np.flatnonzero(a.any(axis=1))
    if rows.size == 0:
        return [0] * c
    r0, r1 = rows[0], rows[-1] + 1
    xs = np.flatnonzero(a[r0:r1].any(axis=0)) // c
    x0, x1 = xs[0], xs[-1] + 1
    # table index = prime index * 256 + value, where the prime index of
    # pixel (r, x) is (r * w + x) % 11: a row part plus a column part
    idx = a[r0:r1, x0 * c:x1 * c].astype(np.uint16)
    idx += np.repeat(np.arange(x0, x1) % 11 * 256, c).astype(np.uint16)
    idx += (np.arange(r0, r1) * w % 11 * 256).astype(np.uint16)[:, None]
    # uint16 sums wrap mod 2**16, which is the checksum's own & 0xffff
    col_sums = _U8_REM.take(idx).sum(axis=0, dtype=np.uint16)
    return [int(s) for s in col_sums.reshape(-1, c).sum(axis=0, dtype=np.uint16)]


def checksum(band):
    """Checksum of a single 2-D band (any integer dtype; floats are rounded
    half-up to int like GDALCopyWords float->Int32)."""
    a = np.asarray(band)
    if a.dtype == np.uint8 and a.ndim == 2:
        return _checksums_u8(a)[0]
    if np.issubdtype(a.dtype, np.floating):
        a = np.floor(a.astype(np.float64) + 0.5)
        a = np.clip(a, -2147483647, 2147483647)
        flat = a.astype(np.int64).ravel()
    else:
        flat = a.astype(np.int64).ravel()
    primes = _primes_for(flat.size)
    # C's % truncates toward zero (matters only for negative values)
    rem = np.fmod(flat, primes)
    return int(int(rem.sum(dtype=np.int64)) & 0xFFFF)


def checksum_image(arr):
    """Checksum each band of an (H, W) or (H, W, C) array -> list of ints."""
    a = np.asarray(arr)
    if a.dtype == np.uint8 and a.ndim in (2, 3):
        return _checksums_u8(a)
    if a.ndim == 2:
        return [checksum(a)]
    return [checksum(a[:, :, c]) for c in range(a.shape[2])]
