"""Dialect-portable SQL expression templates for the cell/tile math.

One source of truth for BOTH engines: the Spark column expressions
(``gdal_spark.functions.cells`` wraps these in ``F.expr``) and the DuckDB
oracle SQL (``__spark_entry__.oracle_sql``) are generated from the same
strings, so the two sides cannot drift.

Portability constraints honored here (Spark SQL ∩ DuckDB SQL):
* ``ln/tan/pi()/power/log2/floor/ceiling/least/greatest/CAST`` exist in both;
* bit ops ``& |`` exist in both; shifts are written as multiplication by
  powers of two (``<<`` precedence/typing differs between dialects);
* DuckDB ``ceiling`` returns DOUBLE while Spark returns BIGINT → always
  wrapped in ``CAST(... AS BIGINT)``;
* mask constants are decimal literals (both parse hex, but decimal is
  unambiguous about signedness).

Semantics are the reference's GlobalMercator
(gdal2tiles.py:415-510 — see gdal_spark.oracle.mercator for the numpy twin).
"""

from __future__ import annotations

import math


def _d(x: float) -> str:
    """Exact-round-trip DOUBLE literal. Scientific notation on purpose:
    both Spark and DuckDB type bare decimal literals as DECIMAL, which loses
    ulps vs the computed double and flips tile assignment on exact pixel
    boundaries; exponent literals are DOUBLE in both dialects."""
    return format(x, ".17e")


ORIGIN_SHIFT = _d(2.0 * math.pi * 6378137.0 / 2.0)  # 20037508.342789244
INITIAL_RESOLUTION = _d(2.0 * math.pi * 6378137.0 / 256.0)  # 156543.03392804062
TILE_SIZE = 256
MAX_LAT = _d(85.05112877980659)
CELL_Z_SHIFT = 288230376151711744  # 2**58

_MASKS = (
    (65536, 281470681808895),  # <<16, 0x0000FFFF0000FFFF
    (256, 71777214294589695),  # <<8,  0x00FF00FF00FF00FF
    (16, 1085102592571150095),  # <<4,  0x0F0F0F0F0F0F0F0F
    (4, 3689348814741910323),  # <<2,  0x3333333333333333
    (2, 6148914691236517205),  # <<1,  0x5555555555555555
)


def sql_mx(lon: str) -> str:
    """lon -> EPSG:3857 x meters."""
    return f"(({lon}) * {ORIGIN_SHIFT} / 180.0)"


def sql_my(lat: str) -> str:
    """lat -> EPSG:3857 y meters (clamped to the WebMercator domain)."""
    lat_c = f"least(greatest(({lat}), -{MAX_LAT}), {MAX_LAT})"
    return (
        f"(ln(tan((90.0 + {lat_c}) * pi() / 360.0)) / (pi() / 180.0)"
        f" * {ORIGIN_SHIFT} / 180.0)"
    )


def sql_resolution(z: str) -> str:
    return f"({INITIAL_RESOLUTION} / power(2.0, ({z})))"


def sql_px(mx: str, z: str) -> str:
    return f"((({mx}) + {ORIGIN_SHIFT}) / {sql_resolution(z)})"


def sql_pixels_to_tile(p: str) -> str:
    """Reference ceil-1 convention (gdal2tiles.py:461-466)."""
    return f"(CAST(ceiling(({p}) / {TILE_SIZE}.0) AS BIGINT) - 1)"


def _clamped(t: str, z: str) -> str:
    n_minus_1 = f"(CAST(power(2.0, ({z})) AS BIGINT) - 1)"
    return f"least(greatest({t}, CAST(0 AS BIGINT)), {n_minus_1})"


def sql_tile_x(lon: str, z: str) -> str:
    """lon -> clamped TMS/XYZ x tile index at zoom z."""
    return _clamped(sql_pixels_to_tile(sql_px(sql_mx(lon), z)), z)


def sql_tile_y_tms(lat: str, z: str) -> str:
    """lat -> clamped TMS y tile index (origin bottom-left)."""
    return _clamped(sql_pixels_to_tile(sql_px(sql_my(lat), z)), z)


def sql_tile_y_xyz(lat: str, z: str) -> str:
    """lat -> XYZ/Google y (origin top-left): 2^z - 1 - ty."""
    n_minus_1 = f"(CAST(power(2.0, ({z})) AS BIGINT) - 1)"
    return f"({n_minus_1} - {sql_tile_y_tms(lat, z)})"


def sql_spread_bits(v: str, bits: int | None = None) -> str:
    """Interleave-spread a <=26-bit int into even bit positions.

    Each mask step doubles the expression. A step whose multiplier is at
    least ``2**bits`` returns ``v`` unchanged, so with ``bits`` known (a
    literal zoom) those steps are left out: at z7, three steps repeat
    ``v`` 8 times instead of 32."""
    e = f"CAST(({v}) AS BIGINT)"
    for mul, mask in _MASKS:
        if bits is None or mul < 2 ** bits:
            e = f"(({e} | ({e} * {mul})) & {mask})"
    return e


def sql_morton(x: str, y: str, bits: int | None = None) -> str:
    return f"({sql_spread_bits(x, bits)} | ({sql_spread_bits(y, bits)} * 2))"


def sql_cell(lon: str, lat: str, z: str) -> str:
    """Hierarchical int64 cell id: (z << 58) | morton(tile_x, tile_y_xyz).
    Tile indices at zoom z have z bits, so a literal z sizes the spread."""
    bits = int(z) if z.strip().isdigit() else None
    return (
        f"((CAST(({z}) AS BIGINT) * {CELL_Z_SHIFT})"
        f" + {sql_morton(sql_tile_x(lon, z), sql_tile_y_xyz(lat, z), bits)})"
    )


def sql_cell_parent(cell: str, steps: int) -> str:
    """Parent cell ``steps`` levels up: z -= steps, morton >>= 2*steps
    (division because ``>>`` is not dialect-portable; morton >= 0)."""
    z = f"CAST(floor(({cell}) / {CELL_Z_SHIFT}) AS BIGINT)"
    m = f"(({cell}) % {CELL_Z_SHIFT})"
    return (
        f"((({z}) - {steps}) * {CELL_Z_SHIFT}"
        f" + CAST(floor(({m}) / {4 ** steps}) AS BIGINT))"
    )


def sql_zoom_for_pixel_size(ps: str) -> str:
    """Closed form of the reference's scan loop (gdal2tiles.py:504-510):
    zoom = clamp(floor(log2(R0 / ps)), 0, 31). Equivalent for all ps not
    exactly on a resolution boundary; the loop twin in oracle.mercator is the
    arbiter and tests assert agreement off-boundary."""
    return (
        f"least(CAST(31 AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor(log2({INITIAL_RESOLUTION} / ({ps}))) AS BIGINT)))"
    )
