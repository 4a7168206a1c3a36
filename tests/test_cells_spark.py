"""Spark cell/tile column expressions vs the numpy oracle and vs DuckDB
running the identical SQL template text (the driver-parity gate)."""

import numpy as np
import pandas as pd
import pytest

from conftest import assert_frames_match
from gdal_spark.oracle import mercator as M
from gdal_spark.sql import templates as T
from gdal_spark.sql.geoviews import CUSTOMER_POINTS_CTE


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(7)
    n = 4000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-180, 180, n),
            "lat": rng.uniform(-85.05, 85.05, n),
        }
    )
    # edge cases
    pdf.loc[0, ["lon", "lat"]] = [0.0, 0.0]
    pdf.loc[1, ["lon", "lat"]] = [-180.0, -85.05]
    pdf.loc[2, ["lon", "lat"]] = [179.999999, 85.05]
    pdf.loc[3, ["lon", "lat"]] = [2.3, 48.8]
    return pdf


def test_spark_matches_numpy_oracle(spark, points_pdf):
    from gdal_spark.functions import cells as C

    df = spark.createDataFrame(points_pdf)
    for z in (0, 1, 7, 12, 20):
        got = (
            df.select(
                "pid",
                C.tile_x("lon", str(z)).alias("tx"),
                C.tile_y_tms("lat", str(z)).alias("ty"),
                C.cell("lon", "lat", str(z)).alias("cell"),
            )
            .orderBy("pid")
            .toPandas()
        )
        tx, ty = M.lonlat_to_tile(points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), z)
        cell = M.cell_encode(points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), z)
        np.testing.assert_array_equal(got["tx"].to_numpy(), tx)
        np.testing.assert_array_equal(got["ty"].to_numpy(), ty)
        np.testing.assert_array_equal(got["cell"].to_numpy(), cell)


def test_cell_zoom_column_matches_numpy_oracle(spark, points_pdf):
    """A zoom column takes all five mask steps (a literal zoom leaves out
    the steps it does not need, tested above); both give the oracle's cell."""
    from pyspark.sql import functions as F

    from gdal_spark.functions import cells as C

    got = (
        spark.createDataFrame(points_pdf)
        .withColumn("z", (F.col("pid") % 21).cast("int"))
        .select("pid", "z", C.cell("lon", "lat", "z").alias("cell"))
        .orderBy("pid")
        .toPandas()
    )
    lon, lat = points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy()
    for z in range(21):
        m = got["z"].to_numpy() == z
        np.testing.assert_array_equal(
            got["cell"].to_numpy()[m], M.cell_encode(lon[m], lat[m], z))


def test_cell_parent_column(spark, points_pdf):
    from gdal_spark.functions import cells as C

    df = spark.createDataFrame(points_pdf.head(500))
    got = (
        df.select("pid", C.cell("lon", "lat", "12").alias("c12"))
        .select("pid", "c12", C.cell_parent("c12", 3).alias("c9"))
        .orderBy("pid")
        .toPandas()
    )
    np.testing.assert_array_equal(
        got["c9"].to_numpy(), M.cell_parent(got["c12"].to_numpy(), 3)
    )


def test_zoom_for_pixel_size_matches_loop(spark):
    from gdal_spark.functions import cells as C

    # off-boundary pixel sizes across the whole range, incl. the fixture gsds
    ps = np.concatenate(
        [np.array([10.0, 50.0, 100.0, 500.0, 0.3, 200000.0]),
         np.geomspace(0.05, 300000.0, 500) * 1.0000001]
    )
    pdf = pd.DataFrame({"ps": ps})
    got = (
        spark.createDataFrame(pdf)
        .select(C.zoom_for_pixel_size("ps").alias("z"))
        .toPandas()["z"]
        .to_numpy()
    )
    want = np.array([M.zoom_for_pixel_size(p) for p in ps])
    # closed form is clamped to 31 like MAXZOOMLEVEL-1
    np.testing.assert_array_equal(got, want)


def _tile_assign_sql(zoom: int) -> str:
    return f"""
WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT pid,
       {T.sql_tile_x('lon', str(zoom))} AS tx,
       {T.sql_tile_y_tms('lat', str(zoom))} AS ty,
       {T.sql_cell('lon', 'lat', str(zoom))} AS cell
FROM customer_points
"""


@pytest.mark.parametrize("zoom", [3, 7, 12])
def test_duckdb_parity_tile_assign(spark, tpch, duck, zoom):
    """The exact text that oracle_sql() ships must agree with Spark bit-for-bit
    on integer tile/cell outputs — this is the driver's own comparison."""
    sql = _tile_assign_sql(zoom)
    assert_frames_match(spark.sql(sql), duck.sql(sql), sort_cols=["pid"])


def test_duckdb_parity_mercator_meters(spark, tpch, duck):
    """Double-precision mercator meters also match (ln/tan bit parity between
    JVM StrictMath-lowered plans and libm) within 1e-12 relative."""
    sql = f"""
WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT pid, {T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my
FROM customer_points
"""
    assert_frames_match(
        spark.sql(sql), duck.sql(sql), sort_cols=["pid"], float_cols=("mx", "my"),
        rtol=1e-12,
    )
