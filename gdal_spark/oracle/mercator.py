"""Pure-numpy reimplementation of the WebMercator (EPSG:3857) TMS tile pyramid
math used by the reference's tiling engine.

Semantics cloned from GDAL's ``gdal2tiles`` ``GlobalMercator`` class
(/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:415-533):
spherical radius 6378137 m, origin shift 20037508.342789244, 256-px tiles,
TMS y axis (origin bottom-left), and the exact ``ceil(px/256)-1`` pixel→tile
convention.  All functions are vectorized over numpy arrays and serve as the
golden oracle for the Spark column expressions in
``gdal_spark.functions.cells``.

This module is an independent reimplementation (public Mercator formulas), not
a copy; it exists so tests can pin golden values without a GDAL dependency.
"""

from __future__ import annotations

import numpy as np

TILE_SIZE = 256
EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2.0 * np.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2.0 * np.pi * EARTH_RADIUS / TILE_SIZE  # 156543.03392804062
MAXZOOMLEVEL = 32
# Latitude beyond which WebMercator is undefined (gdal2tiles clamps implicitly
# through its bounds; we clamp explicitly).
MAX_LAT = 85.05112877980659


def lonlat_to_meters(lon, lat):
    """WGS84 lon/lat -> EPSG:3857 meters.

    Ref semantics: gdal2tiles.py:423-430 (LatLonToMeters).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / (np.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def meters_to_lonlat(mx, my):
    """EPSG:3857 meters -> WGS84 lon/lat (gdal2tiles.py:432-444)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / np.pi * (2.0 * np.arctan(np.exp(lat * np.pi / 180.0)) - np.pi / 2.0)
    return lon, lat


def resolution(zoom):
    """Meters/pixel at the equator for a zoom level (gdal2tiles.py:498-502)."""
    return INITIAL_RESOLUTION / (2.0 ** np.asarray(zoom, dtype=np.float64))


def meters_to_pixels(mx, my, zoom):
    """EPSG:3857 -> global pyramid pixel coords at a zoom (gdal2tiles.py:453-459)."""
    res = resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_meters(px, py, zoom):
    """Global pixel coords -> EPSG:3857 (gdal2tiles.py:446-451)."""
    res = resolution(zoom)
    mx = np.asarray(px, dtype=np.float64) * res - ORIGIN_SHIFT
    my = np.asarray(py, dtype=np.float64) * res - ORIGIN_SHIFT
    return mx, my


def pixels_to_tile(px, py):
    """Pixel coords -> TMS tile indices with the reference's exact convention
    ``tx = ceil(px/256) - 1`` (gdal2tiles.py:461-466): a point exactly on a
    tile boundary belongs to the tile below/left of it.
    """
    tx = (np.ceil(np.asarray(px, dtype=np.float64) / float(TILE_SIZE)) - 1).astype(np.int64)
    ty = (np.ceil(np.asarray(py, dtype=np.float64) / float(TILE_SIZE)) - 1).astype(np.int64)
    return tx, ty


def meters_to_tile(mx, my, zoom):
    """EPSG:3857 -> TMS tile (gdal2tiles.py:472-476)."""
    px, py = meters_to_pixels(mx, my, zoom)
    return pixels_to_tile(px, py)


def lonlat_to_tile(lon, lat, zoom, clamp=True):
    """lon/lat -> TMS tile at ``zoom``; optionally clamped to the valid
    ``[0, 2**zoom - 1]`` range (the reference clamps through its per-zoom
    ``tminmax`` tile ranges, gdal2tiles.py:2428-2442)."""
    mx, my = lonlat_to_meters(lon, np.clip(lat, -MAX_LAT, MAX_LAT) if clamp else lat)
    tx, ty = meters_to_tile(mx, my, zoom)
    if clamp:
        n = np.int64(2) ** np.int64(zoom) - 1
        tx = np.clip(tx, 0, n)
        ty = np.clip(ty, 0, n)
    return tx, ty


def tile_bounds(tx, ty, zoom):
    """TMS tile -> EPSG:3857 (minx, miny, maxx, maxy) (gdal2tiles.py:480-487)."""
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    minx, miny = pixels_to_meters(tx * TILE_SIZE, ty * TILE_SIZE, zoom)
    maxx, maxy = pixels_to_meters((tx + 1) * TILE_SIZE, (ty + 1) * TILE_SIZE, zoom)
    return minx, miny, maxx, maxy


def zoom_for_pixel_size(pixel_size):
    """Maximal scaledown zoom whose resolution is the closest not-finer fit
    (gdal2tiles.py:504-510): first zoom i with pixel_size > Resolution(i)
    yields max(0, i-1); never scale up."""
    ps = np.atleast_1d(np.asarray(pixel_size, dtype=np.float64))
    out = np.full(ps.shape, MAXZOOMLEVEL - 1, dtype=np.int64)
    done = np.zeros(ps.shape, dtype=bool)
    for i in range(MAXZOOMLEVEL):
        hit = (~done) & (ps > resolution(i))
        out[hit] = max(0, i - 1)
        done |= hit
    return out if out.shape != (1,) else int(out[0])


def tms_to_xyz(ty, zoom):
    """TMS y -> XYZ/Google y (gdal2tiles.py:512-515)."""
    return (np.int64(2) ** np.int64(zoom) - 1) - np.asarray(ty, dtype=np.int64)


def quadkey(tx, ty, zoom):
    """TMS tile -> Microsoft quadkey string (gdal2tiles.py:517-530)."""
    tx = int(tx)
    ty_xyz = int((2**zoom - 1) - int(ty))
    digits = []
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if tx & mask:
            digit += 1
        if ty_xyz & mask:
            digit += 2
        digits.append(str(digit))
    return "".join(digits)


# ---------------------------------------------------------------------------
# Hierarchical space-filling cell key ("H3/S2 role" per SURVEY.md §0):
# a Morton/Z-order interleave of (x, y_xyz) with the zoom packed in the top
# bits. Parent/child and k-ring neighbor relations are pure bit math, which is
# what makes the key usable for range partitioning, rollups, and ring-growing
# kNN joins exactly like H3 cells. Kept SQL-expressible (mul/and/or) so the
# same formula runs as Spark column expressions and DuckDB oracle SQL.
# ---------------------------------------------------------------------------

_MASKS_SHIFTS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(v):
    v = np.asarray(v, dtype=np.int64)
    for shift, mask in _MASKS_SHIFTS:
        v = (v | (v << shift)) & mask
    return v


def morton_encode(x, y):
    """Interleave two <=26-bit ints into a Z-order key (x in even bits)."""
    return _spread_bits(x) | (_spread_bits(y) << 1)


def cell_encode(lon, lat, zoom):
    """lon/lat -> int64 hierarchical cell id at ``zoom``:
    ``(zoom << 58) | morton(x, y_xyz)``. y uses the XYZ (top-left) axis so
    that morton order is the familiar quadtree order."""
    tx, ty = lonlat_to_tile(lon, lat, zoom)
    y_xyz = tms_to_xyz(ty, zoom)
    return (np.int64(zoom) << 58) | morton_encode(tx, y_xyz)


def cell_parent(cell, steps=1):
    """Parent cell ``steps`` zoom levels up: zoom -= steps, morton >>= 2*steps."""
    cell = np.asarray(cell, dtype=np.int64)
    zoom = cell >> 58
    morton = cell & ((np.int64(1) << 58) - 1)
    return ((zoom - steps) << 58) | (morton >> (2 * steps))


def cell_zxy(cell):
    """Decompose a cell id back into (zoom, x, y_xyz)."""
    cell = np.asarray(cell, dtype=np.int64)
    zoom = cell >> 58
    morton = cell & ((np.int64(1) << 58) - 1)

    def _compact(v):
        v = v & 0x5555555555555555
        v = (v | (v >> 1)) & 0x3333333333333333
        v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
        v = (v | (v >> 16)) & 0x00000000FFFFFFFF
        return v

    x = _compact(morton)
    y = _compact(morton >> 1)
    return zoom, x, y
