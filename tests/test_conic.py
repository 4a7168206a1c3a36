"""Lambert conformal conic + polar stereographic closed forms
(oracle/conic.py; Snyder PP 1395) and the generic projected-CRS warp."""

import numpy as np
import pytest

from gdal_spark.oracle import conic as CC


class TestConicTransforms:
    def test_lcc_round_trip(self):
        p = CC.lcc_europe()
        rng = np.random.default_rng(3)
        lon = rng.uniform(-10, 30, 500)
        lat = rng.uniform(36, 64, 500)
        E, N = p.forward(lon, lat)
        lo2, la2 = p.inverse(E, N)
        assert np.abs(lo2 - lon).max() < 1e-12
        assert np.abs(la2 - lat).max() < 1e-12

    def test_lcc_origin_and_scale(self):
        p = CC.lcc_europe()
        E, N = p.forward(10.0, 52.0)
        assert E == pytest.approx(4000000.0)
        assert N == pytest.approx(2800000.0)
        # conformal: scale along both standard parallels equals 1 -> the
        # projected length of a 0.1-deg arc on lat1 matches the geodesic
        for lat in (35.0, 65.0):
            e1, n1 = p.forward(9.95, lat)
            e2, n2 = p.forward(10.05, lat)
            s = np.sin(np.deg2rad(lat))
            arc = (np.deg2rad(0.1) * np.cos(np.deg2rad(lat)) * CC._A
                   / np.sqrt(1 - CC._E2 * s * s))
            assert np.hypot(e2 - e1, n2 - n1) == pytest.approx(arc, rel=1e-6)

    def test_polar_stereo_known_values(self):
        s = CC.epsg_3031()
        E, N = s.forward(0.0, -71.0)
        # EPSG:3031 standard-parallel point on the central meridian
        assert E == pytest.approx(0.0, abs=1e-6)
        assert N == pytest.approx(2082760.1085, abs=0.01)
        E, N = s.forward(0.0, -90.0)
        assert E == pytest.approx(0.0, abs=1e-6) and N == pytest.approx(0.0, abs=1e-6)
        # quadrant sanity: +90E maps to +x
        E, N = s.forward(90.0, -71.0)
        assert E > 2e6 and abs(N) < 1.0

    def test_polar_stereo_round_trip_both_aspects(self):
        rng = np.random.default_rng(5)
        for p, losign in ((CC.epsg_3031(), -1), (CC.epsg_3413(), 1)):
            lon = rng.uniform(-180, 180, 500)
            lat = losign * rng.uniform(55, 89.5, 500)
            E, N = p.forward(lon, lat)
            lo2, la2 = p.inverse(E, N)
            dl = (lo2 - lon + 180) % 360 - 180
            assert np.abs(dl).max() < 1e-11
            assert np.abs(la2 - lat).max() < 1e-11

    def test_generic_warp_with_lcc(self):
        from gdal_spark.oracle.warp import warp_proj_to_4326

        p = CC.lcc_europe()
        rng = np.random.default_rng(7)
        a = rng.integers(0, 256, (40, 40), dtype=np.uint8)
        cx, cy = p.forward(10.0, 50.0)
        gt = [float(cx) - 20 * 100.0, 100.0, 0.0,
              float(cy) + 20 * 100.0, 0.0, -100.0]
        out, dst_gt = warp_proj_to_4326(
            a, gt, to_lonlat=p.inverse, from_lonlat=p.forward,
            method="nearest")
        assert out.shape == a.shape
        # dst bbox must bracket the source center lon/lat
        assert dst_gt[0] < 10.0 < dst_gt[0] + 40 * dst_gt[1]
        assert dst_gt[3] + 40 * dst_gt[5] < 50.0 < dst_gt[3]
        # same-resolution nearest warp keeps the value population
        assert abs(float(out.mean()) - float(a.mean())) < 8.0

    @pytest.mark.parametrize("proj", ["lcc", "stereo"])
    def test_generic_warp_bilinear_reproduces_ramp(self, proj):
        """Bilinear through the non-separable warp reproduces a linear ramp
        at every destination center that inverse-maps inside the source
        pixel-center grid (up to the uint8 rounding)."""
        from gdal_spark.oracle.warp import warp_proj_to_4326

        p, (lon, lat) = ((CC.lcc_europe(), (10.0, 50.0)) if proj == "lcc"
                         else (CC.epsg_3031(), (-120.0, -78.0)))
        yy, xx = np.mgrid[0:40, 0:40]
        a = (2 * xx + 3 * yy).astype(np.uint8)
        cx, cy = p.forward(lon, lat)
        gt = [float(cx) - 20 * 100.0, 100.0, 0.0,
              float(cy) + 20 * 100.0, 0.0, -100.0]
        out, dst_gt = warp_proj_to_4326(
            a, gt, to_lonlat=p.inverse, from_lonlat=p.forward,
            method="bilinear")
        lon_g, lat_g = np.meshgrid(
            dst_gt[0] + (np.arange(out.shape[1]) + 0.5) * dst_gt[1],
            dst_gt[3] + (np.arange(out.shape[0]) + 0.5) * dst_gt[5])
        e, n = p.forward(lon_g, lat_g)
        gx = (e - gt[0]) / gt[1] - 0.5
        gy = (n - gt[3]) / gt[5] - 0.5
        inner = (gx >= 0) & (gx <= 39) & (gy >= 0) & (gy <= 39)
        assert inner.mean() > 0.5
        np.testing.assert_allclose(out[inner], (2 * gx + 3 * gy)[inner],
                                   atol=0.5 + 1e-9)


class TestTransformPoints:
    def test_all_families_roundtrip(self, spark):
        import numpy as np

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.functions.crs import transform_points

        imgs = images_df(spark, 20).select("image_id", "lon", "lat")
        from pyspark.sql import functions as F

        domains = {
            "3857": imgs,
            "utm31": imgs.select("image_id", (F.col("lon") / 60 + 3).alias("lon"),
                                 (F.col("lat") * 0.4).alias("lat")),
            "lcc_eu": imgs.select("image_id", (F.col("lon") / 12 + 10).alias("lon"),
                                  (F.col("lat") / 8 + 48).alias("lat")),
            "stereo_s": imgs.select("image_id", "lon",
                                    (-70 + F.col("lat") / 20).alias("lat")),
        }
        for fam, src in domains.items():
            got = transform_points(src, fam).toPandas()
            assert (got["rt_err_udeg"] < 1e-3).all(), fam
            assert got["x"].nunique() > 1, fam

    def test_3857_matches_oracle(self, spark):
        import numpy as np

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.functions.crs import transform_points
        from gdal_spark.oracle.mercator import lonlat_to_meters

        imgs = images_df(spark, 10).select("image_id", "lon", "lat")
        got = transform_points(imgs, "3857").toPandas()
        ex, ey = lonlat_to_meters(got["lon"].to_numpy(), got["lat"].to_numpy())
        np.testing.assert_allclose(got["x"], ex, rtol=0, atol=1e-6)
        np.testing.assert_allclose(got["y"], ey, rtol=0, atol=1e-6)


class TestAlbersSinusoidal:
    """Round-5 family additions: Albers equal-area conic + MODIS
    sinusoidal."""

    def test_albers_round_trip(self):
        import numpy as np

        from gdal_spark.oracle.conic import albers_conus

        prj = albers_conus()
        rng = np.random.default_rng(7)
        lon = rng.uniform(-125, -66, 500)
        lat = rng.uniform(24, 50, 500)
        x, y = prj.forward(lon, lat)
        blo, bla = prj.inverse(x, y)
        assert np.max(np.hypot(blo - lon, bla - lat)) < 1e-9

    def test_albers_is_equal_area(self):
        """The defining property: the Jacobian of (lon,lat)->(x,y) equals
        the ellipsoidal area element a^2 cos(phi)(1-e^2)/(1-e^2 sin^2)^2
        everywhere (finite differences, 0.1 ppm)."""
        import numpy as np

        from gdal_spark.oracle.conic import _A, _E2, albers_conus

        prj = albers_conus()
        lon = np.array([-120.0, -96.0, -80.0, -70.0])
        lat = np.array([30.0, 37.5, 45.0, 48.0])
        h = 1e-6
        xE, yE = prj.forward(lon + h, lat)
        xW, yW = prj.forward(lon - h, lat)
        xN, yN = prj.forward(lon, lat + h)
        xS, yS = prj.forward(lon, lat - h)
        rad = np.pi / 180.0
        dxdl = (xE - xW) / (2 * h * rad)
        dydl = (yE - yW) / (2 * h * rad)
        dxdp = (xN - xS) / (2 * h * rad)
        dydp = (yN - yS) / (2 * h * rad)
        jac = np.abs(dxdl * dydp - dydl * dxdp)
        s = np.sin(np.deg2rad(lat))
        element = (_A * _A * np.cos(np.deg2rad(lat)) * (1 - _E2)
                   / (1 - _E2 * s * s) ** 2)
        np.testing.assert_allclose(jac, element, rtol=1e-7)

    def test_albers_orientation(self):
        """East of lon0 -> x > 0; north of the origin parallel -> y grows."""
        from gdal_spark.oracle.conic import albers_conus

        prj = albers_conus()
        xe, _ = prj.forward(-90.0, 37.0)
        xw, _ = prj.forward(-102.0, 37.0)
        assert xe > 0 > xw
        _, ys = prj.forward(-96.0, 30.0)
        _, yn = prj.forward(-96.0, 45.0)
        assert yn > ys

    def test_sinusoidal_closed_forms(self):
        import numpy as np

        from gdal_spark.oracle.conic import sinu_modis

        prj = sinu_modis()
        R = 6371007.181
        x, y = prj.forward(90.0, 0.0)
        np.testing.assert_allclose(x, R * np.pi / 2, rtol=1e-12)
        np.testing.assert_allclose(y, 0.0, atol=1e-9)
        x, y = prj.forward(0.0, 45.0)
        np.testing.assert_allclose(y, R * np.pi / 4, rtol=1e-12)
        np.testing.assert_allclose(x, 0.0, atol=1e-9)
        rng = np.random.default_rng(11)
        lon = rng.uniform(-179, 179, 500)
        lat = rng.uniform(-85, 85, 500)
        bx, by = prj.forward(lon, lat)
        blo, bla = prj.inverse(bx, by)
        assert np.max(np.hypot(blo - lon, bla - lat)) < 1e-9

    def test_transform_points_families(self, spark):
        from pyspark.sql import functions as F

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.functions.crs import transform_points

        imgs = images_df(spark, 20).select("image_id", "lon", "lat")
        dom = {
            "albers_conus": imgs.select(
                "image_id", (F.col("lon") / 6 - 96).alias("lon"),
                (F.col("lat") / 6 + 38).alias("lat")),
            "sinu_modis": imgs.select(
                "image_id", "lon", (F.col("lat") * 0.9).alias("lat")),
        }
        for fam, src in dom.items():
            got = transform_points(src, fam).toPandas()
            assert (got["rt_err_udeg"] < 1e-3).all(), fam
            assert got["x"].nunique() > 1, fam
