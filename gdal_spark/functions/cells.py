"""Spark column expressions for the cell/tile key layer.

All pure JVM-side column math (no UDFs): log/tan/floor/bit ops stay inside
whole-stage codegen, so cell encoding of 10^12 rows is a map-only projection
with zero Python cost. Built on the shared SQL templates so the DuckDB oracle
computes the identical formula.

Plays the role H3 plays in the north rule: a hierarchical space-filling
integer key for spatial partitioning, rollups (cell_parent), and ring-growing
kNN joins — GDAL's own discrete grid is this exact XYZ/TMS pyramid
(gdal2tiles.py:415-533).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sql import templates as T


def _col_name(c) -> str:
    """SQL text for a column reference or passthrough for raw SQL strings."""
    if isinstance(c, Column):
        # Column -> its SQL-parseable name; only plain references supported.
        return c._jc.toString()
    return str(c)


def mercator_x(lon) -> Column:
    return F.expr(T.sql_mx(_col_name(lon)))


def mercator_y(lat) -> Column:
    return F.expr(T.sql_my(_col_name(lat)))


def tile_x(lon, z) -> Column:
    return F.expr(T.sql_tile_x(_col_name(lon), _col_name(z)))


def tile_y_tms(lat, z) -> Column:
    return F.expr(T.sql_tile_y_tms(_col_name(lat), _col_name(z)))


def tile_y_xyz(lat, z) -> Column:
    return F.expr(T.sql_tile_y_xyz(_col_name(lat), _col_name(z)))


def cell(lon, lat, z) -> Column:
    """Hierarchical int64 cell id at zoom z — the partition/join key."""
    return F.expr(T.sql_cell(_col_name(lon), _col_name(lat), _col_name(z)))


def cell_parent(cell_col, steps: int) -> Column:
    return F.expr(T.sql_cell_parent(_col_name(cell_col), steps))


def zoom_for_pixel_size(ps) -> Column:
    return F.expr(T.sql_zoom_for_pixel_size(_col_name(ps)))
