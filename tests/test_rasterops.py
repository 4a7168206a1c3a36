"""Raster operators (translate/warp/dem/footprint/zonal/sample/mosaic) and
layer algebra vs numpy oracles."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.codecs.registry import decode
from gdal_spark.fixtures.images import generate_images_pdf, make_pixels
from gdal_spark.oracle import dem as DEM
from gdal_spark.oracle import mercator as M
from gdal_spark.oracle.checksum import checksum_image
from gdal_spark.oracle.resample import resample_nearest
from gdal_spark.oracle.tiling import geotransform_3857
from gdal_spark.oracle.warp import warp_3857_to_4326


@pytest.fixture(scope="module")
def imgs_pdf():
    return generate_images_pdf(8)


@pytest.fixture(scope="module")
def imgs(spark, imgs_pdf):
    return spark.createDataFrame(imgs_pdf)


class TestTranslate:
    def test_srcwin_outsize_scale(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import translate

        got = translate(
            imgs, srcwin=(2, 3, 16, 12), outsize=(32, 24),
            scale=(0, 255, 0, 100), bands=[1, 3]
        ).toPandas().set_index("image_id")
        for r in imgs_pdf.itertuples(index=False):
            a = decode(r.bytes)[3 : 3 + 12, 2 : 2 + 16][:, :, [0, 2]]
            a = resample_nearest(a, 24, 32)
            af = a.astype(np.float64) / 255.0 * 100.0
            exp = np.clip(np.floor(af + 0.5), 0, 255).astype(np.uint8)
            row = got.loc[r.image_id]
            assert (row["w2"], row["h2"]) == (32, 24)
            assert row["cs1"] == checksum_image(exp)[0]
            np.testing.assert_array_equal(decode(row["bytes"]), exp)


    def test_projwin_outside_drops_row(self, spark, imgs_pdf):
        from gdal_spark.operators.rasterops import translate

        src = imgs_pdf.iloc[0]
        far = dict(src, image_id="far", lon=src.lon + 20.0)
        pdf = pd.DataFrame([dict(src, image_id="a"), dict(src, image_id="b"),
                            far])
        a = decode(src.bytes)
        gt = geotransform_3857(src.lon, src.lat, a.shape[1], a.shape[0],
                               src.gsd_m)
        projwin = (gt[0] + 3 * gt[1], gt[3] + 2 * gt[5],
                   gt[0] + 13 * gt[1], gt[3] + 9 * gt[5])
        got = translate(spark.createDataFrame(pdf), projwin=projwin
                        ).toPandas().set_index("image_id")
        assert sorted(got.index) == ["a", "b"]
        for row in got.itertuples():
            assert (row.w2, row.h2) == (10, 7)
            np.testing.assert_array_equal(decode(row.bytes), a[2:9, 3:13])

    def test_projwin_band_expand_outsize(self, spark, imgs_pdf):
        """-projwin, -b 1, -expand rgb and -outsize in one call: the gray
        window replicates to three bands, then resizes (nearest)."""
        from gdal_spark.operators.rasterops import translate

        src = imgs_pdf.iloc[2]
        a = decode(src.bytes)
        gt = geotransform_3857(src.lon, src.lat, a.shape[1], a.shape[0],
                               src.gsd_m)
        projwin = (gt[0] + 3 * gt[1], gt[3] + 2 * gt[5],
                   gt[0] + 13 * gt[1], gt[3] + 9 * gt[5])
        got = translate(spark.createDataFrame(imgs_pdf.iloc[[2]]),
                        projwin=projwin, bands=[1], expand="rgb",
                        outsize=(32, 32)).toPandas().iloc[0]
        exp = resample_nearest(np.repeat(a[2:9, 3:13, :1], 3, axis=2), 32, 32)
        assert (got.w2, got.h2) == (32, 32)
        np.testing.assert_array_equal(decode(got.bytes), exp)
        assert got.cs1 == checksum_image(exp)[0]


class TestWarp:
    @pytest.mark.parametrize(
        "method", ["nearest", "bilinear", "cubic", "average", "med"])
    def test_warp_matches_oracle(self, spark, imgs, imgs_pdf, method):
        from gdal_spark.operators.rasterops import warp_to_wgs84

        got = warp_to_wgs84(imgs, method).toPandas().set_index("image_id")
        for r in imgs_pdf.itertuples(index=False):
            a = decode(r.bytes)
            gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
            exp, dst_gt = warp_3857_to_4326(a, gt, method)
            row = got.loc[r.image_id]
            np.testing.assert_array_equal(decode(row["bytes"]), exp)
            np.testing.assert_allclose(np.array(row["dst_gt"]), dst_gt, rtol=1e-12)

    def test_approx_transformer_error_bound(self, imgs_pdf):
        """Approximate transformer (exact every 16 cols + interp) stays
        close to the exact warp — the GDALApproxTransformer contract."""
        r = imgs_pdf.iloc[4]  # 512x512
        a = decode(r.bytes)
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        exact, _ = warp_3857_to_4326(a, gt, "nearest")
        approx, _ = warp_3857_to_4326(a, gt, "nearest", approx_every=16)
        # identical except possibly a thin band of off-by-one-source-pixel
        frac_diff = (exact != approx).mean()
        assert frac_diff < 0.02

    def test_warp_roundtrip_identity_region(self, imgs_pdf):
        """Center region survives 3857->4326 nearest warp with the same
        value distribution (no resample loss at matched resolution)."""
        r = imgs_pdf.iloc[2]
        a = decode(r.bytes)
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        warped, _ = warp_3857_to_4326(a, gt, "nearest")
        assert warped.shape == a.shape
        assert warped.mean() == pytest.approx(a.mean(), rel=0.2)


class TestDEM:
    def test_flat_dem(self):
        flat = np.full((20, 20), 100.0)
        assert (DEM.slope_degrees(flat) == 0).all()
        assert (DEM.hillshade(flat) == DEM.hillshade(flat)[0, 0]).all()
        assert (DEM.aspect_degrees(flat) == -9999.0).all()
        assert (DEM.tri(flat) == 0).all()
        assert (DEM.roughness(flat) == 0).all()

    def test_ramp_slope(self):
        # 45-degree ramp at unit resolution: dz/dx == 1
        ramp = np.tile(np.arange(32, dtype=np.float64), (8, 1))
        s = DEM.slope_degrees(ramp)
        np.testing.assert_allclose(s[2:-2, 2:-2], 45.0)

    def test_spark_dem_matches_oracle(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import dem_metrics

        got = dem_metrics(imgs, "hillshade").toPandas().set_index("image_id")
        for r in imgs_pdf.head(4).itertuples(index=False):
            a = decode(r.bytes)[:, :, 0].astype(np.float64)
            exp = DEM.hillshade(a, r.gsd_m, r.gsd_m)
            assert got.loc[r.image_id, "cs"] == checksum_image(exp)[0]
        # the -alg ZevenbergenThorne and shading-variant modes
        for variant, alg in (("regular", "zt"), ("combined", "horn"),
                             ("multidirectional", "horn"), ("igor", "horn")):
            got = dem_metrics(imgs, "hillshade", variant=variant, alg=alg
                              ).toPandas().set_index("image_id")
            for r in imgs_pdf.head(4).itertuples(index=False):
                a = decode(r.bytes)[:, :, 0].astype(np.float64)
                exp = DEM.hillshade_variant(a, r.gsd_m, r.gsd_m, 1.0, 315.0,
                                            45.0, variant, alg)
                assert got.loc[r.image_id, "cs"] == checksum_image(exp)[0], (
                    variant, alg)


class TestFootprintZonal:
    def test_footprint_full_coverage(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import footprint

        got = footprint(imgs, threshold=-1).toPandas().set_index("image_id")
        for r in imgs_pdf.itertuples(index=False):
            row = got.loc[r.image_id]
            assert row["n_valid"] == r.w * r.h
            assert row["area_m2"] == pytest.approx(
                (r.w * r.gsd_m) * (r.h * r.gsd_m), rel=1e-9
            )

    def test_viewshed_wall_and_bruteforce(self):
        from gdal_spark.oracle.viewshed import (
            line_of_sight, viewshed, viewshed_bruteforce,
        )

        flat = np.zeros((21, 21))
        assert viewshed(flat, 10, 10, 2.0).all()
        dem = np.zeros((21, 21))
        dem[6, :] = 10.0  # wall north of the observer
        v = viewshed(dem, 10, 10, 2.0)
        assert v[6].all() and v[11:].all()
        assert not v[0:5, 8:13].any()  # shadow straight behind the wall
        assert line_of_sight(dem, 10, 10, 8, 10)
        assert not line_of_sight(dem, 10, 10, 2, 10)
        assert line_of_sight(dem, 10, 10, 2, 10, observer_height=20.0)
        # reference-plane result tracks the exact ray-marching oracle
        yy, xx = np.mgrid[0:25, 0:25]
        hill = 30 * np.exp(-(((xx - 17) ** 2 + (yy - 8) ** 2)) / 18.0)
        v1 = viewshed(hill, 12, 12, 2.0)
        v2 = viewshed_bruteforce(hill, 12, 12, 2.0)
        assert (v1 == v2).mean() > 0.92  # boundary cells differ by method

    def test_viewshed_operator_runs(self, spark, imgs):
        from gdal_spark.operators.rasterops import viewshed_stats

        got = viewshed_stats(imgs).toPandas()
        assert len(got) == imgs.count()
        assert (got["n_visible"] >= 1).all()
        assert got["frac_visible"].between(0, 1).all()
        assert got["corners_visible"].between(0, 4).all()

    def test_utm_transform_roundtrip_and_invariants(self):
        from gdal_spark.oracle import utm as U

        rng = np.random.default_rng(6)
        lon = rng.uniform(0.5, 5.5, 500)
        lat = rng.uniform(-79, 83, 500)
        E, N = U.lonlat_to_utm(lon, lat, 31)
        lo, la = U.utm_to_lonlat(E, N, 31)
        np.testing.assert_allclose(lo, lon, atol=1e-10)
        np.testing.assert_allclose(la, lat, atol=1e-10)
        # central meridian invariants: false easting, scale factor 0.9996
        e, n = U.lonlat_to_utm(3.0, 0.0, 31)
        assert abs(e - 500000.0) < 1e-6 and abs(n) < 1e-6
        e1, n1 = U.lonlat_to_utm(3.0, 45.0, 31)
        e2, n2 = U.lonlat_to_utm(3.0, 45.001, 31)
        a, f = 6378137.0, 1 / 298.257223563
        ee = f * (2 - f)
        phi = np.radians(45.0005)
        M = a * (1 - ee) / (1 - ee * np.sin(phi) ** 2) ** 1.5
        assert abs((n2 - n1) / (M * np.radians(0.001)) - 0.9996) < 1e-6

    def test_warp_utm_runs(self, spark, imgs, imgs_pdf):
        """Each image is georeferenced in the UTM zone of its center
        (gsd_m as UTM meters) and warped by the Krüger-series oracle, with
        a point kernel and a box statistic."""
        from gdal_spark.operators.rasterops import warp_utm
        from gdal_spark.oracle import utm as U
        from gdal_spark.oracle.warp import warp_utm_to_4326

        for method in ("bilinear", "q3"):
            got = warp_utm(imgs, method).toPandas().set_index("image_id")
            assert len(got) == len(imgs_pdf)
            for r in imgs_pdf.itertuples(index=False):
                a = decode(r.bytes)
                h, w = a.shape[:2]
                zone = U.utm_zone_for_lon(float(r.lon))
                south = float(r.lat) < 0
                e0, n0 = U.lonlat_to_utm(float(r.lon), float(r.lat), zone,
                                         south)
                gt = [float(e0) - w / 2.0 * r.gsd_m, float(r.gsd_m), 0.0,
                      float(n0) + h / 2.0 * r.gsd_m, 0.0, -float(r.gsd_m)]
                exp, _ = warp_utm_to_4326(a, gt, zone, method, south)
                row = got.loc[r.image_id]
                assert row["zone"] == zone
                assert [row["cs1"], row["cs2"], row["cs3"]] == list(
                    checksum_image(exp)), method

    def test_pansharpen_brovey(self, spark, imgs, imgs_pdf):
        """Fusing the downsampled spectral with the full-res pan must beat
        plain upsampling (the pan injects detail), and reproduce the Brovey
        formula exactly per pixel."""
        from gdal_spark.operators.rasterops import pansharpen
        from gdal_spark.oracle.resample import (
            psnr, resample_average, resample_bilinear,
        )

        got = pansharpen(imgs).toPandas().set_index("image_id")
        for r in imgs_pdf.head(3).itertuples(index=False):
            a = decode(r.bytes)
            h, w, nb = a.shape
            pan = a.astype(np.float64).mean(axis=2)
            lo = resample_average(a, max(1, h // 4), max(1, w // 4))
            up = resample_bilinear(lo, h, w).astype(np.float64)
            wts = np.asarray([1.0 / nb] * nb)
            pseudo = (up * wts[None, None, :]).sum(axis=2)  # operator's exact arith
            factor = np.where(pseudo != 0, pan / np.where(pseudo == 0, 1, pseudo), 0)
            exp = np.clip(np.floor(up * factor[:, :, None] + 0.5), 0, 255
                          ).astype(np.uint8)
            assert got.loc[r.image_id, "cs1"] == checksum_image(exp)[0]
            assert got.loc[r.image_id, "psnr_vs_src"] >= round(
                min(psnr(up.astype(np.uint8), a), 999.0), 2
            ) - 3.0  # fusion >= plain upsample (small tolerance)

    def test_zonal_stats_matches_numpy(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import zonal_stats

        zoom = 9
        got = zonal_stats(imgs, zone_zoom=zoom).toPandas().set_index("zone")
        # numpy oracle: accumulate all pixels by zone across all images
        acc = {}
        for r in imgs_pdf.itertuples(index=False):
            a = decode(r.bytes)[:, :, 0].astype(np.float64)
            h, w = a.shape
            gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)
            mx = gt[0] + (np.arange(w) + 0.5) * gt[1]
            my = gt[3] + (np.arange(h) + 0.5) * gt[5]
            px, _ = M.meters_to_pixels(mx, np.zeros(w), zoom)
            _, py = M.meters_to_pixels(np.zeros(h), my, zoom)
            tx, _ = M.pixels_to_tile(px, np.zeros(w))
            _, ty = M.pixels_to_tile(np.zeros(h), py)
            n = 2**zoom - 1
            tx = np.clip(tx, 0, n)
            ty = np.clip(ty, 0, n)
            zone = (tx[None, :] << 32) | ty[:, None]
            for z, v in zip(zone.ravel(), a.ravel()):
                acc.setdefault(int(z), []).append(v)
        assert set(got.index) == set(acc.keys())
        for z, vals in acc.items():
            vals = np.asarray(vals)
            assert got.loc[z, "pixel_count"] == len(vals)
            assert got.loc[z, "zmean"] == pytest.approx(round(vals.mean(), 4), abs=2e-4)
            assert got.loc[z, "zmin"] == vals.min()
            assert got.loc[z, "zmax"] == vals.max()
            # round-2 order statistics from the merged histogram: exact
            assert got.loc[z, "zmedian"] == np.median(vals)
            iv = vals.astype(np.int64)
            counts = np.bincount(iv, minlength=256)
            present = np.nonzero(counts)[0]
            assert got.loc[z, "zmode"] == present[np.argmax(counts[present])]
            assert got.loc[z, "zminority"] == present[np.argmin(counts[present])]
            assert got.loc[z, "zvariety"] == present.size

    def test_footprint_traced_with_hole(self, spark):
        """A donut mask footprints as one polygon with an interior ring;
        two blobs footprint as a MultiPolygon (gdal_footprint parity:
        polygonized mask, not its bbox)."""
        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.rasterops import footprint
        from gdal_spark.oracle import geom as G

        a = np.zeros((32, 32, 3), dtype=np.uint8)
        a[4:28, 4:28] = 200   # big square
        a[12:20, 12:20] = 0   # hole
        b = np.zeros((32, 32, 3), dtype=np.uint8)
        b[2:10, 2:10] = 100
        b[20:30, 20:30] = 100  # two components
        pdf = pd.DataFrame([
            dict(image_id="donut", bytes=encode(a, "png"), w=32, h=32,
                 fmt="png", caption="", phash=0, lon=5.0, lat=45.0,
                 gsd_m=10.0),
            dict(image_id="blobs", bytes=encode(b, "png"), w=32, h=32,
                 fmt="png", caption="", phash=0, lon=6.0, lat=46.0,
                 gsd_m=10.0),
        ])
        got = footprint(
            spark.createDataFrame(pdf), threshold=0
        ).toPandas().set_index("image_id")
        donut = G.parse_wkb(bytes(got.loc["donut", "wkb"]))
        assert donut[0] == "polygon" and len(donut[1]) == 2  # outer + hole
        assert got.loc["donut", "n_valid"] == 24 * 24 - 8 * 8
        assert got.loc["donut", "area_m2"] == pytest.approx(
            (24 * 24 - 8 * 8) * 100.0
        )
        blobs = G.parse_wkb(bytes(got.loc["blobs", "wkb"]))
        assert blobs[0] == "multipolygon" and len(blobs[1]) == 2
        assert got.loc["blobs", "area_m2"] == pytest.approx(
            (64 + 100) * 100.0
        )

    def test_sample_at_points(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import sample_at_points

        # points at each image's center -> value of the center pixel
        pts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": imgs_pdf["image_id"],
                    "point_id": np.arange(len(imgs_pdf)),
                    "plon": imgs_pdf["lon"],
                    "plat": imgs_pdf["lat"],
                }
            )
        )
        got = sample_at_points(imgs, pts, "nearest").toPandas().set_index("image_id")
        for r in imgs_pdf.itertuples(index=False):
            a = decode(r.bytes)
            exp = float(a[r.h // 2, r.w // 2, 0])
            assert got.loc[r.image_id, "value"] == pytest.approx(exp)

    @pytest.mark.parametrize("method", ["bilinear", "cubic"])
    def test_sample_at_points_interpolated(self, spark, method):
        """Bilinear and Catmull-Rom cubic both reproduce a linear ramp
        exactly between pixel centers, so value = ramp(fx - 0.5, fy - 0.5)."""
        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.rasterops import sample_at_points

        w = h = 40
        yy, xx = np.mgrid[0:h, 0:w]
        a = np.repeat((3 * xx + 2 * yy)[:, :, None], 3, axis=2)
        lon, lat, gsd = 5.0, 45.0, 10.0
        img = pd.DataFrame([dict(image_id="ramp",
                                 bytes=encode(a.astype(np.uint8), "png"),
                                 lon=lon, lat=lat, gsd_m=gsd, w=w, h=h)])
        gt = geotransform_3857(lon, lat, w, h, gsd)
        fx = np.array([5.5, 10.25, 20.75, 30.1])
        fy = np.array([6.5, 12.6, 25.3, 8.9])
        plon, plat = M.meters_to_lonlat(gt[0] + fx * gt[1], gt[3] + fy * gt[5])
        pts = pd.DataFrame(dict(image_id="ramp", point_id=np.arange(4),
                                plon=plon, plat=plat))
        got = (sample_at_points(spark.createDataFrame(img),
                                spark.createDataFrame(pts), method)
               .toPandas().sort_values("point_id"))
        exp = 3 * (fx - 0.5) + 2 * (fy - 0.5)
        np.testing.assert_allclose(got["value"], exp, atol=1e-4)


class TestMosaicBandCalc:
    def test_band_calc_norm_diff(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import band_calc

        got = band_calc(imgs, "norm_diff").toPandas().set_index("image_id")
        r = imgs_pdf.iloc[0]
        a = decode(r["bytes"]).astype(np.float64)
        v = (a[:, :, 0] - a[:, :, 1]) / np.maximum(a[:, :, 0] + a[:, :, 1], 1e-9)
        assert got.loc[r["image_id"], "vmean"] == pytest.approx(round(v.mean(), 6), abs=1e-6)

    def test_pixel_function_breadth(self, imgs_pdf):
        """Every PIXEL_FUNCTIONS entry runs; spot-check numpy semantics of
        the non-oracled (transcendental / order-statistic) ones."""
        from gdal_spark.operators.rasterops import PIXEL_FUNCTIONS, _pixel_func

        r = imgs_pdf.iloc[0]
        a = decode(r["bytes"]).astype(np.float64)
        for fn in PIXEL_FUNCTIONS:
            v = _pixel_func(fn, a, 2.0 if fn in ("pow", "inv") else None)
            assert v.shape == a.shape[:2], fn
        b1, b2, b3 = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        np.testing.assert_allclose(
            _pixel_func("log10", a, None),
            np.log10(np.maximum(b1, 1e-9)))
        np.testing.assert_allclose(
            _pixel_func("dB2amp", a, None), np.power(10.0, b1 / 20.0))
        np.testing.assert_allclose(
            _pixel_func("pow", a, 3.0), b1 ** 3)
        np.testing.assert_allclose(
            _pixel_func("median", a, None),
            np.median(np.stack([b1, b2, b3], axis=2), axis=2))
        np.testing.assert_allclose(
            _pixel_func("interpolate_linear", a, 0.25), b1 + (b2 - b1) * 0.25)
        # mode: most frequent band value per pixel, uint8 domain
        m = _pixel_func("mode", a, None)
        h, w = b1.shape
        for yy, xx in [(0, 0), (h // 2, w // 3), (h - 1, w - 1)]:
            vals = [b1[yy, xx], b2[yy, xx], b3[yy, xx]]
            counts = {x: vals.count(x) for x in vals}
            best = max(counts.values())
            assert m[yy, xx] == min(x for x, c in counts.items() if c == best)
        # replace_nodata turns matching pixels into NaN
        rn = _pixel_func("replace_nodata", a, float(b1[0, 0]))
        assert np.isnan(rn[0, 0])

    def test_mosaic_merges_overlaps(self, spark):
        from gdal_spark.operators.rasterops import mosaic_tiles
        from gdal_spark.oracle.tiling import render_image_tiles

        # two co-located images -> mosaic tile = round-half-up mean of
        # the sources' own base tiles at that key
        pdf = generate_images_pdf(2).copy()
        pdf["lon"] = 10.0
        pdf["lat"] = 10.0
        pdf["gsd_m"] = 100.0
        df = spark.createDataFrame(pdf)
        got = mosaic_tiles(df, zoom=9, reducer="mean").toPandas()
        assert (got["image_id"] == "__mosaic__").all()
        assert got.groupby(["z", "x", "y"]).size().max() == 1
        per_key = {}
        for r in pdf.itertuples(index=False):
            for z, tx, ty, t in render_image_tiles(
                    decode(r.bytes), r.lon, r.lat, r.gsd_m, "nearest",
                    zoom=9):
                per_key.setdefault((z, tx, ty), []).append(
                    t.astype(np.float64))
        assert {(r.z, r.x, r.y) for r in got.itertuples()} == set(per_key)
        assert max(len(v) for v in per_key.values()) == 2
        for r in got.itertuples(index=False):
            exp = np.clip(np.floor(np.mean(per_key[(r.z, r.x, r.y)], axis=0)
                                   + 0.5), 0, 255).astype(np.uint8)
            np.testing.assert_array_equal(decode(r.tile), exp)


class TestLayerAlgebra:
    @pytest.fixture(scope="class")
    def layers(self, spark):
        a = spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(aid=1, minx=0.0, miny=0.0, maxx=10e5, maxy=10e5),
                    dict(aid=2, minx=5e5, miny=5e5, maxx=15e5, maxy=15e5),
                    dict(aid=3, minx=-20e5, miny=-20e5, maxx=-10e5, maxy=-10e5),
                ]
            )
        )
        b = spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(bid=10, minx=2e5, miny=2e5, maxx=7e5, maxy=7e5),
                    dict(bid=11, minx=12e5, miny=12e5, maxx=30e5, maxy=30e5),
                ]
            )
        )
        return a, b

    def test_intersection(self, layers):
        from gdal_spark.operators.layer_algebra import intersection

        a, b = layers
        got = intersection(a, b).toPandas().sort_values(["aid", "bid"], ignore_index=True)
        exp = pd.DataFrame(
            [
                dict(aid=1, bid=10, minx=2e5, miny=2e5, maxx=7e5, maxy=7e5),
                dict(aid=2, bid=10, minx=5e5, miny=5e5, maxx=7e5, maxy=7e5),
                dict(aid=2, bid=11, minx=12e5, miny=12e5, maxx=15e5, maxy=15e5),
            ]
        )
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    def test_erase_area_conservation(self, layers):
        from gdal_spark.operators.layer_algebra import erase, intersection

        a, b = layers
        erased = erase(a, b).toPandas()
        inter = intersection(a, b).toPandas()

        def area(df):
            return ((df.maxx - df.minx) * (df.maxy - df.miny)).sum()

        a_pdf = a.toPandas()
        # pieces don't overlap (disjoint remainder construction) and
        # area(A) == area(erased) + area(A ∩ B) when no double-coverage
        assert area(a_pdf) == pytest.approx(area(erased) + area(inter))
        # untouched rect passes through whole
        assert ((erased.aid == 3) & (erased.minx == -20e5)).any()

    def test_identity(self, layers):
        from gdal_spark.operators.layer_algebra import identity

        a, b = layers
        got = identity(a, b).toPandas()
        assert got[got.bid.isna()].shape[0] > 0  # outside pieces
        assert got[got.bid.notna()].shape[0] == 3  # intersection pieces


class TestRound2Extras:
    def test_contour_polygons_partition(self, spark, imgs, imgs_pdf):
        """The level bands partition the raster: per image, band pixel
        counts sum to the (downsampled) pixel total and band areas sum to
        the image footprint area."""
        from gdal_spark.operators.rasterops import contour_polygons

        got = contour_polygons(imgs).toPandas()
        for r in imgs_pdf.itertuples(index=False):
            sub = got[got.image_id == r.image_id]
            dh, dw = min(r.h, 64), min(r.w, 64)
            assert sub["n_pixels"].sum() == dh * dw
            # marching-squares bands tile the full pixel-edge footprint
            assert sub["area_m2"].sum() == pytest.approx(
                (r.w * r.gsd_m) * (r.h * r.gsd_m), rel=1e-9
            )
        # pixel mode keeps the full-footprint partition
        got_px = contour_polygons(imgs, mode="pixel").toPandas()
        for r in imgs_pdf.itertuples(index=False):
            sub = got_px[got_px.image_id == r.image_id]
            assert sub["area_m2"].sum() == pytest.approx(
                (r.w * r.gsd_m) * (r.h * r.gsd_m), rel=1e-9
            )

    def test_cog_window_reads(self):
        from gdal_spark.codecs.cog import decode_cog_window, encode_cog
        from gdal_spark.fixtures.images import make_pixels

        a = make_pixels(300, 280)
        blob = encode_cog(a)
        rng = np.random.default_rng(4)
        for _ in range(12):
            x0 = int(rng.integers(0, 295))
            y0 = int(rng.integers(0, 275))
            w = int(rng.integers(1, 300 - x0))
            h = int(rng.integers(1, 280 - y0))
            win, ntiles = decode_cog_window(blob, x0, y0, w, h)
            np.testing.assert_array_equal(win, a[y0:y0 + h, x0:x0 + w])
            exp_tiles = (((x0 + w - 1) // 256) - x0 // 256 + 1) * (
                ((y0 + h - 1) // 256) - y0 // 256 + 1
            )
            assert ntiles == exp_tiles

    def test_embedding_pca_matches_numpy(self, spark):
        from gdal_spark.operators.similarity import embedding_pca

        rng = np.random.default_rng(5)
        # anisotropic data: variance concentrated in 2 known directions
        base = rng.normal(size=(300, 6)) * np.array([5.0, 3.0, 0.5, 0.3, 0.2, 0.1])
        rot, _ = np.linalg.qr(rng.normal(size=(6, 6)))
        data = base @ rot.T + 2.0
        df = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(300, dtype=np.int64),
            "embedding": [[float(x) for x in row] for row in data],
        }))
        out, explained = embedding_pca(df, k=2)
        got = out.toPandas().sort_values("vec_id", ignore_index=True)
        proj = np.vstack(got["components"].to_numpy())
        # numpy oracle
        mean = data.mean(axis=0)
        cov = np.cov(data.T, bias=True)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:2]
        exp = (data - mean) @ evecs[:, order]
        for j in range(2):  # eigenvectors defined up to sign
            same = np.abs(proj[:, j] - exp[:, j]).max()
            flip = np.abs(proj[:, j] + exp[:, j]).max()
            assert min(same, flip) < 1e-6
        assert explained[0] > explained[1] > 0
        assert sum(explained) <= 1.0 + 1e-9


class TestBandHistogram:
    """GetHistogram semantics (gcore/gdalrasterband.cpp:4224,4510): generic
    bucket rule, out-of-range clamping, nodata skip — vs a numpy twin."""

    def _twin(self, a, dmin, dmax, nb, oob=False, nodata=None):
        v = a[..., 0].astype(np.float64).ravel()
        if nodata is not None:
            v = v[v != nodata]
        idx = np.floor((v - dmin) * nb / (dmax - dmin))
        if oob:
            idx = np.clip(idx, 0, nb - 1)
        else:
            idx = idx[(idx >= 0) & (idx < nb)]
        return np.bincount(idx.astype(np.int64), minlength=nb)

    @pytest.mark.parametrize(
        "dmin,dmax,nb,oob,nodata",
        [
            (-0.5, 255.5, 256, False, None),   # uint8 fast path (:4613)
            (0.0, 256.0, 64, False, None),     # generic scale
            (32.0, 96.0, 16, False, None),     # sub-range, drop out-of-range
            (32.0, 96.0, 16, True, None),      # sub-range, clamp to edges
            (-0.5, 255.5, 256, False, 0.0),    # nodata skipped (:4504)
        ],
    )
    def test_matches_numpy_twin(self, spark, imgs, imgs_pdf,
                                dmin, dmax, nb, oob, nodata):
        from gdal_spark.operators.rasterops import band_histogram

        got = (
            band_histogram(imgs, dmin=dmin, dmax=dmax, n_buckets=nb,
                           include_out_of_range=oob, nodata=nodata,
                           merge=True)
            .toPandas().set_index("bucket")["cnt"].sort_index()
        )
        want = np.zeros(nb, dtype=np.int64)
        for r in imgs_pdf.itertuples(index=False):
            want += self._twin(decode(r.bytes), dmin, dmax, nb, oob, nodata)
        assert got.index.tolist() == list(range(nb))
        np.testing.assert_array_equal(got.to_numpy(), want)

    def test_per_image_rows(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import band_histogram

        got = band_histogram(imgs, n_buckets=16, dmin=0.0, dmax=256.0)
        pdf = got.toPandas()
        assert set(pdf["image_id"]) == set(imgs_pdf["image_id"])
        assert (pdf.groupby("image_id")["bucket"].count() == 16).all()
        n_pix = {r.image_id: int(r.w) * int(r.h)
                 for r in imgs_pdf.itertuples(index=False)}
        for iid, g in pdf.groupby("image_id"):
            assert g["cnt"].sum() == n_pix[iid]


class TestGcpTransformers:
    """GCP polynomial (alg/gdal_crs.cpp CRS_georef bases) and thin plate
    spline (alg/thinplatespline.cpp d2*log(d2) basis) transformers."""

    def _grid(self, w, h, n=5):
        xs = np.linspace(0, w - 1, n)
        ys = np.linspace(0, h - 1, n)
        gx, gy = np.meshgrid(xs, ys)
        return np.stack([gx.ravel(), gy.ravel()], 1)

    def test_polynomial_recovers_exact_poly(self):
        from gdal_spark.oracle.tps import (
            gcp_polynomial_eval, gcp_polynomial_fit,
        )

        src = self._grid(100, 80)
        for order in (1, 2, 3):
            # a ground-truth mapping that IS a polynomial of this order
            x, y = src[:, 0], src[:, 1]
            dst = np.stack([
                3.0 + 1.02 * x + 0.05 * y
                + (0.001 * x * y if order >= 2 else 0)
                + (1e-6 * x ** 3 if order >= 3 else 0),
                -7.0 - 0.03 * x + 0.98 * y
                + (0.002 * y * y if order >= 2 else 0),
            ], 1)
            coef = gcp_polynomial_fit(src, dst, order)
            probe = np.array([[13.7, 21.9], [77.1, 3.3], [50.0, 60.0]])
            px, py = probe[:, 0], probe[:, 1]
            want = np.stack([
                3.0 + 1.02 * px + 0.05 * py
                + (0.001 * px * py if order >= 2 else 0)
                + (1e-6 * px ** 3 if order >= 3 else 0),
                -7.0 - 0.03 * px + 0.98 * py
                + (0.002 * py * py if order >= 2 else 0),
            ], 1)
            got = gcp_polynomial_eval(coef, probe, order)
            np.testing.assert_allclose(got, want, atol=1e-8)

    def test_tps_interpolates_gcps_exactly_and_roundtrips(self):
        from gdal_spark.oracle.tps import ThinPlateSpline

        rng = np.random.default_rng(9)
        src = self._grid(64, 64, 4)
        dst = src * 1.05 + rng.normal(0, 1.5, src.shape)
        fwd = ThinPlateSpline(src, dst)
        np.testing.assert_allclose(fwd(src), dst, atol=1e-8)
        # smooth-distortion round trip: fwd then reverse TPS stays close
        rev = ThinPlateSpline(dst, src)
        probe = self._grid(60, 60, 7) + 1.7
        back = rev(fwd(probe))
        # reverse TPS is not the exact functional inverse (same as the
        # reference's E21/N21 swap); sub-half-pixel round trip is the bar
        assert np.abs(back - probe).max() < 0.5

    def test_warp_gcp_identity_gcps_preserve_checksum(self, spark, imgs_pdf):
        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.operators.rasterops import warp_gcp
        from gdal_spark.oracle.checksum import checksum_image

        pdf = imgs_pdf.head(4).copy()
        gcps = []
        for r in pdf.itertuples(index=False):
            g = self._grid(int(r.w), int(r.h), 4)
            gcps.append(g)
        pdf["gcp_px"] = [g[:, 0].tolist() for g in gcps]
        pdf["gcp_py"] = [g[:, 1].tolist() for g in gcps]
        pdf["gcp_x"] = [g[:, 0].tolist() for g in gcps]
        pdf["gcp_y"] = [g[:, 1].tolist() for g in gcps]
        res = warp_gcp(
            spark.createDataFrame(pdf), method="poly", order=1
        ).toPandas().set_index("image_id")
        for r in pdf.itertuples(index=False):
            a = _dec(r.bytes)
            band = a[..., 0] if a.ndim == 3 else a
            h, w = band.shape
            # identity GCPs + order-1 fit = identity transform; dst grid
            # covers [0, w-1] x [0, h-1] with w x h centers -> nearest
            # sampling reproduces a slight resample of the band; at
            # minimum every destination must be valid
            row = res.loc[r.image_id]
            assert row["n_valid"] == w * h
            assert row["w2"] == w and row["h2"] == h

    def test_warp_gcp_tps_runs_with_distortion(self, spark, imgs_pdf):
        from gdal_spark.operators.rasterops import warp_gcp

        pdf = imgs_pdf.head(3).copy()
        cols = {"gcp_px": [], "gcp_py": [], "gcp_x": [], "gcp_y": []}
        for r in pdf.itertuples(index=False):
            g = self._grid(int(r.w), int(r.h), 4)
            x, y = g[:, 0], g[:, 1]
            X = 1.02 * x + 0.05 * y + 2e-4 * x * y
            Y = 0.98 * y - 0.03 * x + 1e-4 * x * x
            cols["gcp_px"].append(x.tolist())
            cols["gcp_py"].append(y.tolist())
            cols["gcp_x"].append(X.tolist())
            cols["gcp_y"].append(Y.tolist())
        for k, v in cols.items():
            pdf[k] = v
        res = warp_gcp(spark.createDataFrame(pdf), method="tps").toPandas()
        assert len(res) == 3
        assert (res["n_valid"] > 0).all()
        assert (res["cs"] >= 0).all()

    @pytest.mark.parametrize("method", ["tps", "poly"])
    def test_warp_gcp_affine_gcps_closed_form(self, spark, imgs_pdf, method):
        """Affine GCPs make the spline weights (TPS) and the quadratic
        terms (order-2 fit) zero, so both warps equal the closed-form
        affine nearest warp: X = 1.03x + 0.07y + 3.5, Y = -0.04x + 0.97y
        + 2.25, dst grid over the forward corner bbox."""
        from gdal_spark.operators.rasterops import warp_gcp

        pdf = imgs_pdf.head(3).copy()
        cols = {"gcp_px": [], "gcp_py": [], "gcp_x": [], "gcp_y": []}
        for r in pdf.itertuples(index=False):
            x, y = self._grid(int(r.w), int(r.h), 4).T
            cols["gcp_px"].append(x.tolist())
            cols["gcp_py"].append(y.tolist())
            cols["gcp_x"].append((1.03 * x + 0.07 * y + 3.5).tolist())
            cols["gcp_y"].append((-0.04 * x + 0.97 * y + 2.25).tolist())
        for k, v in cols.items():
            pdf[k] = v
        res = warp_gcp(spark.createDataFrame(pdf), method=method, order=2
                       ).toPandas().set_index("image_id")
        det = 1.03 * 0.97 + 0.07 * 0.04
        for r in pdf.itertuples(index=False):
            band = decode(r.bytes)[:, :, 0]
            h, w = band.shape
            x0, x1 = 3.5, 1.03 * (w - 1) + 0.07 * (h - 1) + 3.5
            y0, y1 = -0.04 * (w - 1) + 2.25, 0.97 * (h - 1) + 2.25
            gx, gy = np.meshgrid(x0 + (np.arange(w) + 0.5) * (x1 - x0) / w,
                                 y0 + (np.arange(h) + 0.5) * (y1 - y0) / h)
            ix = np.floor((0.97 * (gx - 3.5) - 0.07 * (gy - 2.25)) / det
                          + 0.5).astype(np.int64)
            iy = np.floor((0.04 * (gx - 3.5) + 1.03 * (gy - 2.25)) / det
                          + 0.5).astype(np.int64)
            valid = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
            exp = np.where(valid, band[np.clip(iy, 0, h - 1),
                                       np.clip(ix, 0, w - 1)], 0)
            row = res.loc[r.image_id]
            assert row["n_valid"] == valid.sum()
            assert row["cs"] == checksum_image(exp.astype(np.uint8))[0]


class TestRpcTransformer:
    """RPC00B rational camera model: term order of
    alg/gdal_rpc.cpp:196-216 (RPCTransformerComputeTerms) with the
    iterative inverse of RPCInverseTransformPoint."""

    def test_forward_is_affine_when_bend_zero(self):
        from gdal_spark.oracle.rpc import rpc_forward, synthetic_rpc

        rpc = synthetic_rpc(101, 81, bend=0.0)
        lon = np.array([10.0, 10.01, 9.99, 10.04])
        lat = np.array([45.0, 45.02, 44.98, 44.96])
        line, samp = rpc_forward(rpc, lon, lat)
        L = (lon - 10.0) / 0.05
        P = (lat - 45.0) / 0.05
        np.testing.assert_allclose(samp, L * 50.0 + 50.0, atol=1e-10)
        np.testing.assert_allclose(line, -P * 40.0 + 40.0, atol=1e-10)

    def test_inverse_roundtrips_forward(self):
        from gdal_spark.oracle.rpc import (
            rpc_forward, rpc_inverse, synthetic_rpc,
        )

        rpc = synthetic_rpc(128, 96)
        gl, gs = np.meshgrid(np.linspace(0, 95, 7), np.linspace(0, 127, 9),
                             indexing="ij")
        lon, lat = rpc_inverse(rpc, gl, gs, height=0.0)
        l2, s2 = rpc_forward(rpc, lon, lat, 0.0)
        np.testing.assert_allclose(l2, gl, atol=1e-7)
        np.testing.assert_allclose(s2, gs, atol=1e-7)
        # nonzero height moves through the H terms without blowing up
        lon_h, lat_h = rpc_inverse(rpc, gl, gs, height=120.0)
        l3, s3 = rpc_forward(rpc, lon_h, lat_h, 120.0)
        np.testing.assert_allclose(l3, gl, atol=1e-7)
        np.testing.assert_allclose(s3, gs, atol=1e-7)

    def test_pack_unpack_roundtrip(self):
        from gdal_spark.oracle.rpc import rpc_pack, rpc_unpack, synthetic_rpc

        rpc = synthetic_rpc(64, 48)
        flat = rpc_pack(rpc)
        assert len(flat) == 90
        back = rpc_unpack(flat)
        for k, v in rpc.items():
            np.testing.assert_allclose(back[k], v)

    def test_warp_rpc_covers_footprint(self, spark, imgs_pdf):
        from gdal_spark.operators.rasterops import warp_rpc
        from gdal_spark.oracle.rpc import rpc_pack, synthetic_rpc

        pdf = imgs_pdf.head(3).copy()
        pdf["rpc"] = [rpc_pack(synthetic_rpc(int(r.w), int(r.h)))
                      for r in pdf.itertuples(index=False)]
        res = warp_rpc(spark.createDataFrame(pdf)).toPandas()
        assert len(res) == 3
        sizes = {r.image_id: (int(r.w), int(r.h))
                 for r in pdf.itertuples(index=False)}
        for r in res.itertuples(index=False):
            w, h = sizes[r.image_id]
            assert (r.w2, r.h2) == (w, h)
            # the dst grid is the inverse-transformed footprint bbox, so
            # most destination centers land inside the source
            assert r.n_valid > 0.8 * w * h
            assert r.cs >= 0

    def test_warp_rpc_bend_free_closed_form(self, spark, imgs_pdf):
        """A bend-free RPC block is the linear pushbroom model: every
        destination center lands inside and samples
        ix = floor((w-1)(c+0.5)/w + 0.5), iy likewise."""
        from gdal_spark.operators.rasterops import warp_rpc
        from gdal_spark.oracle.rpc import rpc_pack, synthetic_rpc

        pdf = imgs_pdf.head(3).copy()
        pdf["rpc"] = [rpc_pack(synthetic_rpc(int(r.w), int(r.h), bend=0.0))
                      for r in pdf.itertuples(index=False)]
        res = warp_rpc(spark.createDataFrame(pdf)).toPandas().set_index(
            "image_id")
        for r in pdf.itertuples(index=False):
            band = decode(r.bytes)[:, :, 0]
            h, w = band.shape
            ix = np.floor((w - 1) * (np.arange(w) + 0.5) / w + 0.5).astype(int)
            iy = np.floor((h - 1) * (np.arange(h) + 0.5) / h + 0.5).astype(int)
            row = res.loc[r.image_id]
            assert row["n_valid"] == w * h
            assert row["cs"] == checksum_image(band[iy[:, None], ix[None, :]])[0]


class TestPatternOracles:
    """Closed-form pattern fixtures (fixtures/patterns.py) behind the
    vectorize_exact gate: blocks ARE the components, defects sieve away,
    stripe chamfer distances are exact."""

    def test_checker_polygonize_blocks(self):
        from gdal_spark.fixtures.patterns import CHECKER_B, checker_pixels
        from gdal_spark.oracle.rasterize import polygonize as poly

        w, h = 40, 24
        q = (checker_pixels(w, h)[:, :, 0] // 64).astype(np.uint8)
        rows = poly(q)
        nbx, nby = w // CHECKER_B, h // CHECKER_B
        assert len(rows) == nbx * nby
        for idx, (val, cnt, r0, c0, r1, c1) in enumerate(rows):
            by, bx = divmod(idx, nbx)
            assert val == (bx + by) % 2
            assert cnt == CHECKER_B * CHECKER_B
            assert (r0, c0, r1, c1) == (
                by * CHECKER_B, bx * CHECKER_B,
                by * CHECKER_B + CHECKER_B - 1, bx * CHECKER_B + CHECKER_B - 1)

    def test_defect_sieve_restores_checkerboard(self):
        from gdal_spark.fixtures.patterns import checker_pixels
        from gdal_spark.oracle.rasterize import label_components, sieve

        w, h = 32, 48
        q = (checker_pixels(w, h, defects=True)[:, :, 0] // 64).astype(
            np.uint8)
        _, n_before = label_components(q)
        nblocks = (w // 8) * (h // 8)
        assert n_before == nblocks + min(w, h) // 8
        s = sieve(q, 3)
        clean = (checker_pixels(w, h)[:, :, 0] // 64).astype(np.uint8)
        np.testing.assert_array_equal(s, clean)
        _, n_after = label_components(s)
        assert n_after == nblocks

    def test_stripe_proximity_exact(self):
        from gdal_spark.fixtures.patterns import stripe_pixels
        from gdal_spark.oracle.rasterize import proximity

        w, h, s = 64, 16, 5
        mask = stripe_pixels(w, h, s)[:, :, 0] == 0
        d = proximity(mask)
        x = np.arange(w)
        left = x % s
        right = np.where(x - (x % s) + s <= w - 1, s - (x % s), np.inf)
        want = np.minimum(left, right)[None, :].repeat(h, axis=0)
        np.testing.assert_allclose(d, want)

    def test_pattern_images_decode_roundtrip(self, spark):
        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.patterns import (
            checker_pixels, pattern_images_df, stripe_pixels,
        )

        pdf = pattern_images_df(spark, "checker", 4).toPandas()
        for r in pdf.itertuples(index=False):
            np.testing.assert_array_equal(
                _dec(r.bytes), checker_pixels(int(r.w), int(r.h)))
        pdf = pattern_images_df(spark, "stripes", 3).toPandas()
        for r in pdf.itertuples(index=False):
            np.testing.assert_array_equal(
                _dec(r.bytes), stripe_pixels(int(r.w), int(r.h), int(r.s)))

    def test_cone_viewshed_all_visible(self):
        from gdal_spark.fixtures.patterns import cone_pixels
        from gdal_spark.oracle.viewshed import line_of_sight, viewshed

        for w, h in ((33, 25), (48, 63), (64, 41)):
            dem = cone_pixels(w, h)[:, :, 0].astype(np.float64)
            vis = viewshed(dem, h // 2, w // 2, 2.0, 0.0)
            assert vis.all()
            assert all(
                line_of_sight(dem, h // 2, w // 2, cy, cx, 2.0)
                for cy in (0, h - 1) for cx in (0, w - 1))

    def test_plateau_fill_restores_constant(self):
        from gdal_spark.fixtures.patterns import HOLE, plateau_pixels
        from gdal_spark.oracle.contour import fill_nodata

        y0, y1, x0, x1 = HOLE
        for w, h in ((32, 40), (48, 32), (64, 64)):
            a = plateau_pixels(w, h)[:, :, 0].astype(np.float64)
            mask = a < 8
            assert mask.sum() == (y1 - y0) * (x1 - x0)
            filled = fill_nodata(a, mask, 8)
            u8 = np.clip(np.floor(filled + 0.5), 0, 255).astype(np.uint8)
            assert (u8 == 200).all()


class TestNearblack:
    def test_frame_collar_closed_form(self):
        import numpy as np

        from gdal_spark.oracle.nearblack import nearblack

        h, w, k = 20, 16, 3
        a = np.full((h, w, 3), 200, dtype=np.uint8)
        a[:k], a[-k:], a[:, :k], a[:, -k:] = 0, 0, 0, 0
        out, mask = nearblack(a)
        # collar + the 2-px grey-area allowance per side (max_non_black=2)
        shrink = k + 2
        assert (mask == 0).sum() == h * w - (h - 2 * shrink) * (w - 2 * shrink)
        assert (mask[shrink:h - shrink, shrink:w - shrink] == 255).all()
        assert (out[mask == 0] == 0).all()
        assert (out[shrink, shrink] == (200, 200, 200)).all()

    def test_no_collar_untouched(self):
        import numpy as np

        from gdal_spark.oracle.nearblack import nearblack

        a = np.full((10, 10, 3), 180, dtype=np.uint8)
        out, mask = nearblack(a)
        # first-line / first-pixel rules terminate immediately
        assert (mask == 255).all()
        assert (out == a).all()

    def test_near_white_with_noise(self):
        import numpy as np

        from gdal_spark.oracle.nearblack import nearblack

        h, w, k = 18, 18, 2
        rng = np.random.default_rng(0)
        a = np.full((h, w, 3), 90, dtype=np.uint8)
        noise = rng.integers(241, 256, size=(h, w, 3)).astype(np.uint8)
        for sl in (np.s_[:k, :], np.s_[-k:, :], np.s_[:, :k], np.s_[:, -k:]):
            a[sl] = noise[sl]
        out, mask = nearblack(a, white=True)
        shrink = k + 2
        assert (mask == 0).sum() == h * w - (h - 2 * shrink) * (w - 2 * shrink)
        assert (out[mask == 0] == 255).all()  # -white replaces with 255

    def test_operator_on_frame_fixture(self, spark):
        from gdal_spark.fixtures.patterns import (FRAME_H, FRAME_K, FRAME_W,
                                                  pattern_images_df)
        from gdal_spark.operators.rasterops import nearblack_stats

        rows = nearblack_stats(
            pattern_images_df(spark, "frame", 3), downsample_to=None
        ).orderBy("image_id").collect()
        assert len(rows) == 3
        for i, r in enumerate(rows):
            w, h, k = FRAME_W[i % 3], FRAME_H[i % 3], FRAME_K[i % 3]
            assert r["n_valid"] == (w - 2 * (k + 2)) * (h - 2 * (k + 2))
            assert r["n_collar"] + r["n_valid"] == w * h


class TestViewshedOptions:
    def test_max_distance_disk(self):
        import numpy as np

        from gdal_spark.oracle.viewshed import viewshed

        flat = np.zeros((21, 21))
        v = viewshed(flat, 10, 10, 2.0, max_distance=5.0)
        yy, xx = np.mgrid[0:21, 0:21]
        d2 = (yy - 10) ** 2 + (xx - 10) ** 2
        assert (v == (d2 <= 25)).all()

    def test_curvature_horizon_on_flat_plane(self):
        import numpy as np

        from gdal_spark.oracle.viewshed import viewshed

        # gdal_viewshed defaults: cc=0.85714, WGS84 semi-major.  2 m eye
        # over a flat plane -> horizon at sqrt(2*a*oh/cc) ~ 5.45 km; at
        # 500 m cells that is ~10.9 cells: near cells visible, the far
        # corners (>15 cells) below the curvature drop
        flat = np.zeros((33, 33))
        v0 = viewshed(flat, 16, 16, 2.0)
        assert v0.all()
        v = viewshed(flat, 16, 16, 2.0, curve_coeff=0.85714, cell_size=500.0)
        assert v[16, 16] and v[16, 21]          # within the horizon
        assert not v[0, 0] and not v[32, 32]    # far corners beyond it
        assert v.sum() < v0.sum()
        # axis visibility ends exactly at the analytic horizon cell: the
        # curved profile is concave so the blocking cell is always the
        # previous one; z(d) >= z(d-1)*d/(d-1) fails first past d_h
        k = 0.85714 / (2 * 6378137.0)
        col = v[16, 17:]
        d = np.arange(1, col.size + 1) * 500.0
        zrel = -k * d * d - 2.0
        vis_axis = [True]
        A = zrel[0]
        for i in range(1, col.size):
            req = A * (i + 1) / i
            vis_axis.append(zrel[i] >= req)
            A = max(zrel[i], req)
        assert list(col) == vis_axis

    def test_observer_position_override(self, spark):
        from gdal_spark.fixtures.patterns import pattern_images_df
        from gdal_spark.operators.rasterops import viewshed_stats

        df = pattern_images_df(spark, "cone", 1)
        center = viewshed_stats(df).toPandas().iloc[0]
        corner = viewshed_stats(df, observer_yx=(0, 0)).toPandas().iloc[0]
        # whole grid visible from the cone apex; not from the corner
        assert center["frac_visible"] == 1.0
        assert corner["n_visible"] < center["n_visible"]


class TestFillNodataSmoothing:
    def test_constant_fill_invariant_and_3x3_average(self):
        import numpy as np

        from gdal_spark.oracle.contour import fill_nodata

        a = np.full((12, 12), 50.0)
        m = np.zeros((12, 12), bool)
        m[4:8, 4:8] = True
        a[m] = 0
        assert np.allclose(fill_nodata(a, m, 8, 3), 50)

        b = np.array([[0., 0., 0.], [10., 0., 30.], [20., 0., 40.]])
        mb = np.zeros((3, 3), bool)
        mb[:, 1] = True
        f = fill_nodata(b, mb, 4, 0)
        fs = fill_nodata(b, mb, 4, 1)
        # -si pass: every FILLED pixel becomes the 3x3 average of valued
        # neighbors (all 9 carry values post-fill); data pixels untouched
        for r in range(3):
            r0, r1 = max(0, r - 1), min(3, r + 2)
            assert fs[r, 1] == pytest.approx(f[r0:r1, :].mean())
        assert (fs[:, 0] == b[:, 0]).all() and (fs[:, 2] == b[:, 2]).all()

    def test_unfilled_pixels_excluded(self):
        import numpy as np

        from gdal_spark.oracle.contour import fill_nodata

        # nodata block too far from data for max_distance=1: stays
        # unfilled AND does not contribute to smoothing sums
        a = np.full((9, 9), 80.0)
        m = np.zeros((9, 9), bool)
        m[2:7, 2:7] = True
        a[m] = 0
        out = fill_nodata(a, m, 1, 2)
        assert (out[4, 4] == 0)          # center out of reach, unfilled
        assert out[2, 2] == pytest.approx(80.0)  # ring filled from border


class TestTranslateResampling:
    def test_outsize_r_methods(self, spark, imgs):
        import numpy as np

        from gdal_spark.codecs.registry import decode
        from gdal_spark.operators.rasterops import translate
        from gdal_spark.oracle.resample import resample_bilinear

        one = imgs.limit(1)
        src = decode(one.collect()[0]["bytes"])
        got = translate(one, outsize=(24, 20), r="bilinear").collect()[0]
        out = decode(got["bytes"])
        assert out.shape[:2] == (20, 24)
        assert (out == resample_bilinear(src, 20, 24)).all()
        # every -r method produces the right shape and differs where the
        # kernels should differ
        cs = {}
        for m in ("nearest", "cubic", "average", "mode"):
            row = translate(one, outsize=(24, 20), r=m).collect()[0]
            assert decode(row["bytes"]).shape[:2] == (20, 24)
            cs[m] = row["cs1"]
        assert cs["nearest"] != cs["average"]


class TestMosaicResolution:
    def test_resolution_rules(self, spark, imgs):
        from gdal_spark.operators.rasterops import mosaic_resolution_zoom
        from gdal_spark.oracle.mercator import zoom_for_pixel_size

        g = imgs.select("gsd_m").toPandas()["gsd_m"]
        zh = mosaic_resolution_zoom(imgs, "highest")
        zl = mosaic_resolution_zoom(imgs, "lowest")
        za = mosaic_resolution_zoom(imgs, "average")
        # gdalbuildvrt: highest = min pixel size, lowest = max, average
        assert zh == int(zoom_for_pixel_size(float(g.min())))
        assert zl == int(zoom_for_pixel_size(float(g.max())))
        assert za == int(zoom_for_pixel_size(float(g.mean())))
        assert zh >= za >= zl
        with pytest.raises(ValueError):
            mosaic_resolution_zoom(imgs, "median")


class TestViewshedHeightModes:
    def test_wall_deficit_closed_form(self):
        import numpy as np

        from gdal_spark.oracle.viewshed import viewshed, viewshed_heights

        dem = np.zeros((21, 21))
        dem[6, :] = 10.0
        g = viewshed_heights(dem, 10, 10, 2.0, mode="ground")
        v = viewshed(dem, 10, 10, 2.0)
        assert ((g <= 1e-9) == v).all()  # zero deficit <=> visible
        d = viewshed_heights(dem, 10, 10, 2.0, mode="dem")
        assert np.allclose(d, dem + g)   # DEM mode = DEM + ground deficit
        # axis behind the wall: sight line over the wall top (rel 8 at
        # distance 4) requires 8*d/4 relative -> +2 back to absolute
        for y in (5, 4, 3):
            dist = 10 - y
            assert g[y, 10] == pytest.approx(8.0 * dist / 4.0 + 2.0)
        with pytest.raises(ValueError):
            viewshed_heights(dem, 10, 10, mode="normal")

    def test_operator_runs(self, spark, imgs):
        from gdal_spark.operators.rasterops import viewshed_height_stats

        got = viewshed_height_stats(imgs.limit(4)).toPandas()
        assert len(got) == 4
        assert (got["n_zero"] >= 1).all()
        assert (got["dmax_u"] >= got["dmean_u"]).all()


class TestRgbToPct:
    def test_median_cut_exact_flats_and_dither_bias(self):
        import numpy as np

        from gdal_spark.oracle.mediancut import (dither_rgb_to_pct,
                                                 median_cut_pct)

        a = np.zeros((16, 16, 3), dtype=np.uint8)
        a[:, :8] = (64, 128, 200)
        a[:, 8:] = (200, 64, 8)
        pal = median_cut_pct(a, 8)
        # both 8-multiple colors land on their own shrunk single-cell box
        assert {tuple(int(v) for v in p) for p in pal} == {
            (64, 128, 200), (200, 64, 8)}
        idx = dither_rgb_to_pct(a, pal)
        assert (pal[idx] == a).all()

        y, x = np.mgrid[0:48, 0:48]
        g = np.stack([(x * 5) % 256, (y * 5) % 256, ((x + y) * 3) % 256],
                     axis=2).astype(np.uint8)
        pal = median_cut_pct(g, 256)
        idx = dither_rgb_to_pct(g, pal)
        rec = pal[idx].astype(int)
        assert np.abs(rec - g.astype(int)).mean() < 8   # cell-scale error
        assert abs((rec - g.astype(int)).mean()) < 2    # diffusion unbiased

    def test_operator_roundtrip_through_plte(self, spark, imgs):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.operators.rasterops import rgb_to_pct

        from gdal_spark.codecs.png import png_palette
        from gdal_spark.oracle.checksum import checksum_image

        got = rgb_to_pct(imgs.limit(3), n_colors=64).toPandas()
        assert (got["n_pal"] <= 64).all()
        for r in got.itertuples(index=False):
            idx = _dec(bytes(r.pct_png), "png")   # index raster back
            pal = png_palette(bytes(r.pct_png))   # PLTE table back
            assert idx.ndim == 2 and pal.shape[0] == r.n_pal
            assert checksum_image(idx)[0] == r.cs_idx
            rgb = pal[idx]                        # pct2rgb expand
            assert rgb.shape[2] == 3


class TestImageQuality:
    def test_closed_forms(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.rasterops import image_quality

        flat = np.full((32, 32, 3), 77, dtype=np.uint8)
        ramp = np.tile(np.arange(256, dtype=np.uint8), 4).reshape(32, 32)
        ramp3 = np.stack([ramp] * 3, axis=2)
        sat = np.zeros((16, 16, 3), dtype=np.uint8)
        sat[:8] = 255
        df = spark.createDataFrame(pd.DataFrame([
            {"image_id": "flat", "bytes": encode(flat, "png")},
            {"image_id": "ramp", "bytes": encode(ramp3, "png")},
            {"image_id": "sat", "bytes": encode(sat, "png")},
        ]))
        got = image_quality(df).toPandas().set_index("image_id")
        f = got.loc["flat"]
        assert f["sharpness"] == 0 and f["entropy_bits"] == 0
        assert f["mean"] == 77 and f["std"] == 0
        assert f["saturated_frac"] == 0 and f["vmin"] == f["vmax"] == 77
        r = got.loc["ramp"]
        # every value appears 4x -> perfectly uniform 8-bit entropy
        assert r["entropy_bits"] == pytest.approx(8.0)
        assert r["vmin"] == 0 and r["vmax"] == 255
        s_ = got.loc["sat"]
        assert s_["saturated_frac"] == 1.0   # all pixels at 0 or 255
        assert s_["entropy_bits"] == pytest.approx(1.0)


class TestRasterToXyz:
    def test_centers_values_skip_and_window(self, spark, imgs, imgs_pdf):
        import numpy as np

        from gdal_spark.operators.rasterops import raster_to_xyz
        from gdal_spark.oracle.tiling import geotransform_3857

        one = imgs.limit(1)
        r = imgs_pdf.iloc[0]
        a = decode(r.bytes)[:, :, 0]
        h, w = a.shape
        gt = geotransform_3857(r.lon, r.lat, w, h, r.gsd_m)

        got = raster_to_xyz(one).toPandas()
        assert len(got) == h * w
        # spot-check a pixel: center coords + value
        row = got[(got.x == gt[0] + 2.5 * gt[1])
                  & (got.y == gt[3] + 3.5 * gt[5])]
        assert len(row) == 1 and row["v"].iloc[0] == a[3, 2]

        sk = raster_to_xyz(one, skip=4).toPandas()
        assert len(sk) == ((h + 3) // 4) * ((w + 3) // 4)
        win = raster_to_xyz(one, srcwin=(2, 3, 5, 4)).toPandas()
        assert len(win) == 20
        nd = raster_to_xyz(one, skip_nodata=float(a[0, 0])).toPandas()
        assert len(nd) == h * w - (a == a[0, 0]).sum()


class TestWarpTargetGrid:
    def test_te_tr_ts(self, imgs_pdf):
        import numpy as np

        from gdal_spark.oracle.warp import suggested_output, warp_3857_to_4326

        r = imgs_pdf.iloc[1]
        a = decode(r.bytes)
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0], r.gsd_m)
        base, dgt = warp_3857_to_4326(a, gt, "nearest")
        _, ow, oh = suggested_output(gt, a.shape[1], a.shape[0])

        # -ts: exact output size, same extent
        w2, g2 = warp_3857_to_4326(a, gt, "nearest", ts=(40, 30))
        assert w2.shape[:2] == (30, 40)
        assert g2[0] == dgt[0] and g2[3] == dgt[3]
        # -tr at the suggested resolution reproduces the suggested grid
        w3, g3 = warp_3857_to_4326(a, gt, "nearest",
                                   tr=(dgt[1], -dgt[5]))
        assert w3.shape == base.shape and np.array_equal(w3, base)
        # -te on a grid-aligned subwindow == the matching slice
        x0, y0 = 4, 6
        te = (dgt[0] + x0 * dgt[1], dgt[3] + oh * dgt[5],
              dgt[0] + ow * dgt[1], dgt[3] + y0 * dgt[5])
        w4, g4 = warp_3857_to_4326(a, gt, "nearest", te=te)
        assert w4.shape[:2] == (oh - y0, ow - x0)
        np.testing.assert_array_equal(w4, base[y0:, x0:])
        # -tr + -ts rejected
        with pytest.raises(ValueError):
            warp_3857_to_4326(a, gt, "nearest", tr=(1, 1), ts=(2, 2))


class TestRasterInfo:
    def test_fields(self, spark, imgs, imgs_pdf):
        import numpy as np

        from gdal_spark.operators.rasterops import raster_info
        from gdal_spark.oracle.mercator import meters_to_lonlat
        from gdal_spark.oracle.tiling import geotransform_3857, native_zoom

        got = raster_info(imgs).toPandas().set_index("image_id")
        assert set(got["driver"]) <= {"PNG", "JPEG", "WEBP"}
        for r in imgs_pdf.head(4).itertuples(index=False):
            a = decode(r.bytes)
            row = got.loc[r.image_id]
            assert (row["w"], row["h"], row["bands"]) == (
                a.shape[1], a.shape[0], a.shape[2])
            gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0],
                                   r.gsd_m)
            np.testing.assert_allclose(row["gt"], gt, rtol=1e-12)
            ul = meters_to_lonlat(gt[0], gt[3])
            assert row["ul_lon"] == pytest.approx(ul[0])
            assert row["zoom"] == native_zoom(r.gsd_m)
            assert row["b1_min"] == a[:, :, 0].min()
            assert row["b1_max"] == a[:, :, 0].max()


class TestColorReliefModes:
    def test_nearest_and_exact(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.rasterops import dem_metrics

        # elevations exactly on + between ramp entries; the checksum covers
        # the R band only, so use the 128->192 segment where R ramps 0->255
        px = np.zeros((8, 8, 3), dtype=np.uint8)
        px[..., 0] = 192         # exact ramp entry (R=255 all modes)
        px[4:, :, 0] = 176       # between: interp R=191, nearest R=255, exact R=0
        df = spark.createDataFrame(pd.DataFrame(
            [{"image_id": "c0", "bytes": encode(px, "png"),
              "lon": 0.0, "lat": 0.0, "gsd_m": 10.0}]))
        interp = dem_metrics(df, "color-relief").collect()[0]["cs"]
        near = dem_metrics(df, "color-relief",
                           color_mode="nearest").collect()[0]["cs"]
        exact = dem_metrics(df, "color-relief",
                            color_mode="exact").collect()[0]["cs"]
        assert len({interp, near, exact}) == 3  # three distinct outputs
        # all-entries image: exact == nearest == interpolate
        px2 = np.zeros((4, 4, 3), dtype=np.uint8)
        px2[..., 0] = 128
        df2 = spark.createDataFrame(pd.DataFrame(
            [{"image_id": "c1", "bytes": encode(px2, "png"),
              "lon": 0.0, "lat": 0.0, "gsd_m": 10.0}]))
        css = {dem_metrics(df2, "color-relief",
                           color_mode=m).collect()[0]["cs"]
               for m in ("interpolate", "nearest", "exact")}
        assert len(css) == 1

    @pytest.mark.parametrize("mode", ["interpolate", "nearest", "exact"])
    def test_modes_match_oracle(self, spark, imgs, imgs_pdf, mode):
        from gdal_spark.operators.rasterops import dem_metrics

        got = dem_metrics(imgs, "color-relief", color_mode=mode
                          ).toPandas().set_index("image_id")
        for r in imgs_pdf.head(4).itertuples(index=False):
            v = DEM.color_relief_rgb(
                decode(r.bytes)[:, :, 0].astype(np.float64), mode)
            row = got.loc[r.image_id]
            assert row["cs"] == checksum_image(v)[0]
            assert row["vmean"] == float(np.round(np.mean(v), 4))


class TestTileIndex:
    def test_extents_match_oracle_and_wkt_closes(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import tile_index
        from gdal_spark.oracle.tiling import image_bounds_3857

        imgs = images_df(spark, 12)
        meta = {r["image_id"]: r for r in
                imgs.select("image_id", "lon", "lat", "w", "h",
                            "gsd_m").collect()}
        idx = tile_index(imgs, src_srs_name="src_srs").toPandas()
        assert len(idx) == 12
        assert set(idx.columns) == {"location", "wkt", "minx", "miny",
                                    "maxx", "maxy", "src_srs"}
        assert (idx["src_srs"] == "EPSG:3857").all()
        for r in idx.itertuples(index=False):
            m = meta[r.location]
            exp = image_bounds_3857(m["lon"], m["lat"], m["w"], m["h"],
                                    m["gsd_m"])
            got = (r.minx, r.miny, r.maxx, r.maxy)
            assert got == tuple(round(v, 6) for v in exp)
            # 5-point closed ring, corners = bbox
            coords = r.wkt[len("POLYGON (("):-2].split(", ")
            assert len(coords) == 5 and coords[0] == coords[4]
            xs = {float(c.split()[0]) for c in coords}
            ys = {float(c.split()[1]) for c in coords}
            assert xs == {round(r.minx, 6), round(r.maxx, 6)}
            assert ys == {round(r.miny, 6), round(r.maxy, 6)}

    def test_zero_udf_plan(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import tile_index

        plan = tile_index(images_df(spark, 4))._jdf.queryExecution() \
            .executedPlan().toString()
        # metadata-only column math: no Python evaluation anywhere
        assert "Python" not in plan and "ArrowEval" not in plan


class TestRasterCompare:
    def test_clean_perturbed_and_binary(self, spark):
        from gdal_spark.codecs.registry import encode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import raster_compare

        pdf = generate_images_pdf(6)
        golden = spark.createDataFrame(pdf)
        new_pdf = pdf.copy()
        perturbed = {}
        png_rows = [i for i in new_pdf.index
                    if new_pdf.loc[i, "fmt"] == "png"][:2]
        assert len(png_rows) == 2
        for i in png_rows:  # bump 3 pixels of band 0 by +10
            a = decode(new_pdf.loc[i, "bytes"]).copy()
            a[0, 0, 0] += 10
            a[2, 3, 0] += 10
            a[5, 5, 0] += 10
            new_pdf.loc[i, "bytes"] = encode(a, "png")
            perturbed[new_pdf.loc[i, "image_id"]] = True
        new = spark.createDataFrame(new_pdf)
        got = raster_compare(golden, new).toPandas().set_index("image_id")
        assert len(got) == 6
        for iid, row in got.iterrows():
            if iid in perturbed:
                assert not row["same_binary"]
                assert row["found_diff"] == 1  # one band checksum diff
                assert row["cs_diff_bands"] == 1
                assert row["pixels_differing"] == 3
                assert row["max_diff"] == 10.0
            else:
                assert row["same_binary"]
                assert row["found_diff"] == 0


def _filterdata_twin(a, coefs, size, method, nodata):
    """Literal per-pixel transcription of VRTKernelFilteredSource::
    FilterData (frmts/vrt/vrtfilters.cpp) with edge replication."""
    r = size // 2
    src = a.astype(np.float64)
    pad = np.pad(src, r, mode="edge")
    h, w = a.shape
    fill = nodata if nodata is not None else 0.0
    out = np.empty((h, w))
    for y in range(h):
        for x in range(w):
            if nodata is not None and src[y, x] == nodata:
                out[y, x] = nodata
                continue
            vals, ksum = [], 0.0
            best_val, best_cnt, counts = fill, 0, {}
            for ii in range(size):
                for jj in range(size):
                    v = pad[y + ii, x + jj]
                    c = coefs[ii * size + jj]
                    if nodata is not None and (v == nodata or np.isnan(v)):
                        continue
                    if c == 0.0:
                        continue
                    wv = v * c
                    vals.append(wv)
                    ksum += c
                    counts[wv] = counts.get(wv, 0) + 1
                    if counts[wv] > best_cnt:
                        best_cnt, best_val = counts[wv], wv
            if not vals:
                out[y, x] = fill
                continue
            if method == "sum":
                out[y, x] = sum(vals)
            elif method == "mean":
                out[y, x] = fill if ksum == 0 else sum(vals) / ksum
            elif method == "min":
                out[y, x] = min(vals)
            elif method == "max":
                out[y, x] = max(vals)
            elif method == "stddev":
                m = sum(vals) / len(vals)
                out[y, x] = np.sqrt(
                    sum((v - m) ** 2 for v in vals) / len(vals))
            elif method == "median":
                out[y, x] = float(np.median(vals))
            elif method == "mode":
                out[y, x] = best_val
    return out


class TestNeighbors:
    def test_all_methods_match_filterdata_twin(self):
        from gdal_spark.operators.rasterops import (_NEIGHBOR_KERNELS,
                                                    _neighbors_filter)

        rng = np.random.default_rng(42)
        a = rng.integers(0, 40, (12, 13)).astype(np.float64)
        a[3, 4] = 7.0  # nodata holes
        a[8, 2] = 7.0
        for kernel, size in [("equal", 3), ("gaussian", 3), ("edge1", 3),
                             ("gaussian", 5)]:
            coefs = (np.ones(size * size)
                     if kernel == "equal"
                     else np.array(_NEIGHBOR_KERNELS[(kernel, size)],
                                   dtype=np.float64))
            for method in ("mean", "sum", "min", "max", "stddev",
                           "median", "mode"):
                for nd in (None, 7.0):
                    got = _neighbors_filter(a, coefs, size, method, nd)
                    exp = _filterdata_twin(a, coefs, size, method, nd)
                    np.testing.assert_allclose(
                        got, exp, atol=1e-9,
                        err_msg=f"{kernel}/{size}/{method}/nd={nd}")

    def test_defaults_and_constant_image(self):
        from gdal_spark.operators.rasterops import (_NEIGHBOR_KERNELS,
                                                    _neighbors_filter)

        flat = np.full((9, 9), 50.0)
        # zero-sum kernel (edge1) defaults to sum -> 0 everywhere
        e1 = np.array(_NEIGHBOR_KERNELS[("edge1", 3)], dtype=np.float64)
        assert (_neighbors_filter(flat, e1, 3, "sum", None) == 0).all()
        # equal/mean keeps the constant
        eq = np.ones(9) / 9.0
        np.testing.assert_allclose(
            _neighbors_filter(flat, eq, 3, "mean", None), 50.0)

    def test_spark_operator(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import neighbors

        got = neighbors(imgs, method="median", size=3).toPandas()
        assert len(got) == imgs.count()
        assert (got["vmin"] <= got["vmean"]).all()
        assert (got["vmean"] <= got["vmax"]).all()
        # zero-sum named kernel picks method=sum by default
        got2 = neighbors(imgs, kernel="u").toPandas()
        assert len(got2) == imgs.count()
        # per image, the operator equals the focal filter kernel
        from gdal_spark.operators.rasterops import (
            _NEIGHBOR_KERNELS, _neighbors_filter)

        for kernel, method, size in (("equal", "median", 3),
                                     ("gaussian", "mean", 5)):
            got = neighbors(imgs, method=method, size=size, kernel=kernel
                            ).toPandas().set_index("image_id")
            coefs = (np.ones(size * size) if kernel == "equal"
                     else np.array(_NEIGHBOR_KERNELS[(kernel, size)], float))
            for r in imgs_pdf.head(4).itertuples(index=False):
                v = _neighbors_filter(decode(r.bytes)[:, :, 0], coefs, size,
                                      method, None)
                row = got.loc[r.image_id]
                assert row["cs"] == checksum_image(v)[0], kernel
                assert row["vmean"] == float(np.round(np.mean(v), 6)), kernel


class TestReclassify:
    def test_intervals_default_passthrough(self, spark, imgs, imgs_pdf):
        from gdal_spark.operators.rasterops import reclassify

        got = reclassify(
            imgs, "[0,100)=1;[100,200)=2;DEFAULT=0"
        ).toPandas().set_index("image_id")
        for r in imgs_pdf.head(3).itertuples(index=False):
            a = decode(r.bytes)[:, :, 0].astype(np.float64)
            exp = np.where(a < 100, 1.0, np.where(a < 200, 2.0, 0.0))
            assert got.loc[r.image_id, "cs"] == checksum_image(exp)[0]
        # PASS_THROUGH keeps source values in range; open/closed bounds
        got2 = reclassify(
            imgs, "(100,inf]=200;DEFAULT=PASS_THROUGH"
        ).toPandas().set_index("image_id")
        for r in imgs_pdf.head(3).itertuples(index=False):
            a = decode(r.bytes)[:, :, 0].astype(np.float64)
            exp = np.where(a > 100, 200.0, a)  # 100 itself stays (open bound)
            assert got2.loc[r.image_id, "cs"] == checksum_image(exp)[0]

    def test_unmatched_raises_and_nodata(self, spark, imgs):
        import pytest as _pytest
        from gdal_spark.operators.rasterops import reclassify

        with _pytest.raises(Exception, match="no specified mapping"):
            reclassify(imgs, "[0,1]=5").toPandas()
        with _pytest.raises(ValueError, match="NoData value is not set"):
            reclassify(imgs, "[0,10]=NO_DATA")
        # NO_DATA on both sides with a nodata value set
        got = reclassify(imgs, "NO_DATA=0;[0,inf]=1", nodata=255.0).toPandas()
        assert (got["vmax"] <= 1.0).all()


class TestNodataToAlpha:
    def test_alpha_band_and_counts(self, spark):
        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.rasterops import nodata_to_alpha

        a = np.full((8, 8, 3), 100, dtype=np.uint8)
        a[0:2, 0:3] = 255            # nodata block (all bands)
        a[5, 5, 0] = 255             # only band 1 at nodata -> stays opaque
        df = spark.createDataFrame(pd.DataFrame(
            [{"image_id": "nd0", "bytes": encode(a, "png")}]))
        row = nodata_to_alpha(df, 255.0).collect()[0]
        assert row["n_transparent"] == 6
        rgba = decode(row["bytes"])
        assert rgba.shape == (8, 8, 4)
        assert (rgba[0:2, 0:3, 3] == 0).all()
        assert rgba[5, 5, 3] == 255
        assert rgba[4, 4, 3] == 255
        # per-band NODATA_VALUES: transparent only where (255,100,100)
        row2 = nodata_to_alpha(df, [255.0, 100.0, 100.0]).collect()[0]
        assert row2["n_transparent"] == 1  # only the (5,5) pixel


class TestRetile:
    def test_tiles_reassemble(self, spark):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import retile

        imgs = images_df(spark, 3)
        src = {r["image_id"]: _dec(bytes(r["bytes"])) for r in imgs.collect()}
        tiles = retile(imgs, tile_px=48, levels=1, emit_bytes=True).collect()
        by_img = {}
        for t in tiles:
            by_img.setdefault(t["image_id"], []).append(t)
        for iid, ts in by_img.items():
            a = src[iid]
            h, w = a.shape[0], a.shape[1]
            ntx = (w + 47) // 48
            nty = (h + 47) // 48
            assert len(ts) == ntx * nty
            out = np.zeros_like(a)
            for t in ts:
                px = _dec(bytes(t["png"]))
                assert px.shape[0] == t["h"] and px.shape[1] == t["w"]
                out[t["ty"] * 48:t["ty"] * 48 + t["h"],
                    t["tx"] * 48:t["tx"] * 48 + t["w"]] = px
            np.testing.assert_array_equal(out, a)

    def test_levels_halve(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import retile

        imgs = images_df(spark, 2)
        t = retile(imgs, tile_px=64, levels=3).toPandas()
        for (iid, lvl), grp in t.groupby(["image_id", "level"]):
            pass  # smoke grouping
        # pixel size doubles per level; total pixels shrink ~4x per level
        for iid in t["image_id"].unique():
            sub = t[t["image_id"] == iid]
            p1 = sub[sub["level"] == 1]["px_size"].iloc[0]
            p2 = sub[sub["level"] == 2]["px_size"].iloc[0]
            assert 1.8 <= p2 / p1 <= 2.2
            n1 = (sub[sub["level"] == 1]["w"] * sub[sub["level"] == 1]["h"]).sum()
            n2 = (sub[sub["level"] == 2]["w"] * sub[sub["level"] == 2]["h"]).sum()
            assert n2 <= n1 / 3

    def test_georef_continuity(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import retile
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.codecs.registry import decode as _dec

        imgs = images_df(spark, 1)
        r = imgs.collect()[0]
        a = _dec(bytes(r["bytes"]))
        gt = geotransform_3857(r["lon"], r["lat"], a.shape[1], a.shape[0],
                               r["gsd_m"])
        t = retile(imgs, tile_px=32, levels=1).toPandas()
        for row in t.itertuples():
            assert abs(row.ulx - (gt[0] + row.tx * 32 * gt[1])) < 1e-9
            assert abs(row.px_size - gt[1]) < 1e-12


class TestVectorInfo:
    def test_summary(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.layer_algebra import vector_info
        from gdal_spark.operators.rasterops import footprint
        from gdal_spark.oracle import geom as G

        imgs = images_df(spark, 8)
        feats = footprint(imgs, threshold=0).select(
            "image_id", "wkb", "n_valid")
        info = vector_info(feats, layer_name="fp").collect()[0]
        rows = feats.collect()
        assert info["layer"] == "fp"
        assert info["n_features"] == len(rows)
        envs = [G.bbox(G.parse_wkb(bytes(r["wkb"]))) for r in rows]
        assert abs(info["minx"] - min(e[0] for e in envs)) < 1e-9
        assert abs(info["maxy"] - max(e[3] for e in envs)) < 1e-9
        kinds = {}
        for r in rows:
            k = G.parse_wkb(bytes(r["wkb"]))[0]
            kinds[k] = kinds.get(k, 0) + 1
        exp = ",".join(f"{k}:{v}" for k, v in sorted(kinds.items()))
        assert info["geom_types"] == exp
        assert "image_id:string" in info["fields"]
        assert "wkb" not in info["fields"]


class TestPerceptualHash:
    def test_identical_pixels_same_hash(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import perceptual_hash

        imgs = images_df(spark, 40)
        meta = imgs.select("image_id", "w", "h", "fmt").toPandas()
        got = perceptual_hash(imgs).toPandas().merge(meta, on="image_id")
        # the fixture reuses the pixel pattern per (w, h): every PNG pair
        # with equal dims must hash identically (lossy codecs may flip
        # borderline bits)
        png = got[got["fmt"] == "png"]
        for (_, _), grp in png.groupby(["w", "h"]):
            assert grp["phash_px"].nunique() == 1

    def test_scale_invariance_and_discrimination(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.png import encode_png
        from gdal_spark.fixtures.images import make_pixels
        from gdal_spark.operators.rasterops import perceptual_hash
        from gdal_spark.oracle.resample import resample_nearest

        base = make_pixels(64, 64)
        up = resample_nearest(base, 128, 128)
        rng = np.random.default_rng(7)
        noise = rng.integers(0, 256, base.shape, dtype=np.uint8)
        pdf = pd.DataFrame({
            "image_id": ["base", "up2x", "noise"],
            "bytes": [bytearray(encode_png(a)) for a in (base, up, noise)],
        })
        got = (perceptual_hash(spark.createDataFrame(pdf))
               .toPandas().set_index("image_id")["phash_px"])

        def ham(a, b):
            return bin(np.uint64(a) ^ np.uint64(b)).count("1")

        assert ham(got["base"], got["up2x"]) <= 6     # scale-invariant-ish
        assert ham(got["base"], got["noise"]) >= 16   # discriminates


class TestPipeline:
    def test_step_parity_with_operators(self, spark):
        """Fused pipeline steps must equal the standalone operators."""
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import neighbors, reclassify
        from gdal_spark.pipeline import run_pipeline

        imgs = images_df(spark, 6)
        got = (run_pipeline(imgs, "reclassify mapping=[0,128)=0;[128,256)=1")
               .toPandas().set_index("image_id"))
        exp = (reclassify(imgs, "[0,128)=0;[128,256)=1")
               .toPandas().set_index("image_id"))
        assert (got["cs"] == exp["cs"]).all()

        got = (run_pipeline(imgs, "neighbors kernel=gaussian size=5")
               .toPandas().set_index("image_id"))
        exp = (neighbors(imgs, kernel="gaussian", size=5)
               .toPandas().set_index("image_id"))
        assert (got["cs"] == exp["cs"]).all()

    def test_chain_and_gdalg(self, spark):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.pipeline import from_gdalg, run_pipeline, to_gdalg

        imgs = images_df(spark, 4)
        cli = ("gdal raster pipeline read ! resize w=32 h=32 ! "
               "scale dst_min=10 dst_max=200 ! expand bands=rgb ! write")
        out = run_pipeline(imgs, cli, emit_bytes=True).toPandas()
        assert (out["w2"] == 32).all() and (out["bands"] == 3).all()
        for b in out["png"]:
            px = _dec(bytes(b))
            assert px.shape == (32, 32, 3)
            assert px.min() >= 9 and px.max() <= 201
        # GDALG JSON round trip reproduces the parse
        assert from_gdalg(to_gdalg(cli)) == [
            ("resize", {"w": "32", "h": "32"}),
            ("scale", {"dst_min": "10", "dst_max": "200"}),
            ("expand", {"bands": "rgb"})]

    def test_dem_chain_matches_oracle_kernels(self, spark):
        """resize -> scale -> gaussian neighbors -> hillshade, fused, equals
        the oracle kernels run in order (hillshade at the resized gsd)."""
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import (
            _NEIGHBOR_KERNELS, _neighbors_filter)
        from gdal_spark.oracle.resample import resample_bilinear
        from gdal_spark.pipeline import run_pipeline, to_gdalg

        imgs = images_df(spark, 4)
        cli = ("gdal raster pipeline read ! resize w=64 h=64 r=bilinear ! "
               "scale dst_min=0 dst_max=255 ! neighbors kernel=gaussian "
               "size=3 ! hillshade azimuth=315 altitude=45 ! write")
        got = run_pipeline(imgs, to_gdalg(cli)).toPandas().set_index(
            "image_id")
        coefs = np.array(_NEIGHBOR_KERNELS[("gaussian", 3)], float)
        for r in imgs.collect():
            a = resample_bilinear(decode(bytes(r["bytes"])).astype(np.float64),
                                  64, 64)
            a = (a - a.min()) * 255.0 / ((a.max() - a.min()) or 1.0)
            v = _neighbors_filter(a[:, :, 0], coefs, 3, "mean", None)
            res = r["gsd_m"] * r["w"] / 64
            v = DEM.hillshade(v, res, res, 1.0, 315.0, 45.0)
            row = got.loc[r["image_id"]]
            assert (row["w2"], row["h2"], row["bands"]) == (64, 64, 1)
            assert row["cs"] == checksum_image(np.asarray(v)[:, :, None])[0]

    def test_errors(self, spark):
        import pytest as _pt

        from gdal_spark.pipeline import from_gdalg, parse_pipeline

        with _pt.raises(ValueError, match="unknown pipeline step"):
            from gdal_spark.fixtures.images import images_df
            from gdal_spark.pipeline import run_pipeline

            run_pipeline(images_df(spark, 1), "frobnicate x=1")
        with _pt.raises(ValueError, match="bad step argument"):
            parse_pipeline("resize 64")
        with _pt.raises(ValueError, match="not a GDALG"):
            from_gdalg('{"type": "other"}')


class TestVectorPipeline:
    def _layer(self, spark):
        import pandas as pd

        from gdal_spark.oracle import geom as G

        rows = [
            (1, 5.0, G.to_wkb("polygon",
                              [[(0, 0), (4, 0), (4, 3), (0, 3), (0, 0)]])),
            (2, 1.0, G.to_wkb("multipoint", [(1, 2), (3, 4)])),
            (3, 9.0, G.to_wkb("linestring", [(0, 0), (2, 2), (4, 0)])),
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["fid", "score", "wkb"]))

    def test_attribute_steps_native(self, spark):
        from gdal_spark.pipeline import run_vector_pipeline

        df = self._layer(spark)
        out = run_vector_pipeline(
            df, "gdal vector pipeline read ! filter where='score > 0.5' ! "
                "sort by=-score ! limit n=2 ! select fields=fid ! write")
        got = out.toPandas()
        assert got["fid"].tolist() == [3, 1]
        assert set(got.columns) == {"fid", "wkb"}
        # attribute steps stay JVM-side: no Python eval in the plan
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p

    def test_geometry_steps(self, spark):
        from gdal_spark.oracle import geom as G
        from gdal_spark.pipeline import run_vector_pipeline

        df = self._layer(spark)
        # swap-xy twice is identity
        twice = run_vector_pipeline(df, "swap-xy ! swap-xy").collect()
        src = {r["fid"]: bytes(r["wkb"]) for r in df.collect()}
        assert all(bytes(r["wkb"]) == src[r["fid"]] for r in twice)
        # explode-collections: multipoint fans out to 2 points
        ex = run_vector_pipeline(df, "explode-collections")
        kinds = [G.parse_wkb(bytes(r["wkb"]))[0] for r in ex.collect()]
        assert sorted(kinds) == ["linestring", "point", "point", "polygon"]
        # centroid then swap
        c = run_vector_pipeline(df.where("fid = 1"), "centroid ! swap-xy")
        k, d = G.parse_wkb(bytes(c.collect()[0]["wkb"]))
        assert k == "point" and tuple(d) == (1.5, 2.0)

    def test_unknown_step(self, spark):
        import pytest as _pt

        from gdal_spark.pipeline import run_vector_pipeline

        with _pt.raises(ValueError, match="unknown vector pipeline step"):
            run_vector_pipeline(self._layer(spark), "resize w=2 h=2")


class TestGdalCalc:
    def test_ndvi_style_expression(self, spark):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import gdal_calc

        imgs = images_df(spark, 5)
        got = (gdal_calc(imgs, "(A - B) / (A + B + 1)")
               .toPandas().set_index("image_id"))
        for r in imgs.collect():
            a = _dec(bytes(r["bytes"])).astype(np.float64)
            if a.shape[2] == 1:
                a = np.repeat(a, 2, axis=2)
            exp = (a[:, :, 0] - a[:, :, 1]) / (a[:, :, 0] + a[:, :, 1] + 1)
            row = got.loc[r["image_id"]]
            assert abs(row["vmean"] - round(float(exp.mean()), 6)) < 1e-9

    def test_where_and_band_map(self, spark):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import gdal_calc

        imgs = images_df(spark, 3)
        got = (gdal_calc(imgs, "where(X > 128, 255, 0)",
                         band_map={"X": 0})
               .toPandas().set_index("image_id"))
        for r in imgs.collect():
            b0 = _dec(bytes(r["bytes"]))[:, :, 0].astype(np.float64)
            exp = np.where(b0 > 128, 255.0, 0.0)
            assert got.loc[r["image_id"], "vmean"] == round(float(exp.mean()), 6)

    def test_clip_sqrt_brighten(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import gdal_calc

        imgs = images_df(spark, 3)
        got = (gdal_calc(imgs, "clip(sqrt(A) * 16, 0, 255)")
               .toPandas().set_index("image_id"))
        for r in imgs.collect():
            a = decode(bytes(r["bytes"]))[:, :, 0].astype(np.float64)
            exp = np.clip(np.sqrt(a) * 16, 0, 255)
            row = got.loc[r["image_id"]]
            assert row["cs"] == checksum_image(exp)[0]
            assert (row["vmin"], row["vmax"]) == (
                float(np.round(exp.min(), 6)), float(np.round(exp.max(), 6)))

    def test_bad_expression_fails_fast(self, spark):
        import pytest as _pt

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import gdal_calc

        with _pt.raises(ValueError):
            gdal_calc(images_df(spark, 1), "__import__('os').system('x')")
        with _pt.raises(ValueError):
            gdal_calc(images_df(spark, 1), "A.shape")

    def test_calc_pipeline_step(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import gdal_calc
        from gdal_spark.pipeline import run_pipeline

        imgs = images_df(spark, 4)
        got = (run_pipeline(imgs, 'calc expr="(A + B) / 2"')
               .toPandas().set_index("image_id"))
        exp = (gdal_calc(imgs, "(A + B) / 2").toPandas()
               .set_index("image_id"))
        assert (got["cs"] == exp["cs"]).all()


# ---------------------------------------------------------------------------
# gdal raster blend
# ---------------------------------------------------------------------------

def mul255(a, b): return (a * b + 255) >> 8
def div255(a, b):
    if a == 0: return 0
    if b == 0: return 255
    return (a * 255) // b

INV = [0] + [((255 << 8) + k // 2) // k for k in range(1, 256)]

def _scalar_blend(base, overlay, mode, opacity):
    h, w = base.shape[:2]
    op = (opacity * 255 + 50) // 100
    out = np.zeros((h, w, 4), dtype=np.uint8)
    def planes(img, y, x):
        c = img.shape[2]
        px = [int(v) for v in img[y, x]]
        if c == 1: return px[0], px[0], px[0], 255
        if c == 2: return px[0], px[0], px[0], px[1]
        if c == 3: return px[0], px[1], px[2], 255
        return px
    for y in range(h):
        for x in range(w):
            R, G, B, A = planes(base, y, x)
            oR, oG, oB, oA = planes(overlay, y, x)
            if mode == "hard-light":
                # swap roles, swapped opacity applies to (new) base
                R, G, B, A, oR, oG, oB, oA = oR, oG, oB, oA, R, G, B, A
                A = mul255(A, op)
            else:
                oA = mul255(oA, op)
            if mode == "src-over":
                sm = mul255(A, 255 - oA)
                dA = oA + sm
                px = []
                for C, OC in ((R, oR), (G, oG), (B, oB)):
                    d = (OC * oA + C * sm + 255) >> 8
                    # saturating store (the reference's SSE packus path;
                    # its scalar tail wraps -- we follow the SSE behavior)
                    px.append(min(255, (d * INV[dA] + 255) >> 8))
                out[y, x] = px + [min(255, dA)]
                continue
            fa = oA + A - mul255(oA, A)
            # premultiply
            pR, pG, pB = [c if A == 255 else mul255(c, A) for c in (R, G, B)]
            qR, qG, qB = [c if oA == 255 else mul255(c, oA) for c in (oR, oG, oB)]
            px = []
            for C, OC in ((pR, qR), (pG, qG), (pB, qB)):
                if mode == "multiply":
                    v = div255(mul255(C, OC) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                elif mode == "screen":
                    v = div255(C + OC - mul255(C, OC), fa)
                elif mode in ("overlay", "hard-light"):
                    am = mul255(oA, A)
                    if 2 * C < A:
                        v = div255(2 * mul255(C, OC) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                    else:
                        v = div255(am - 2 * mul255(A - C, oA - OC) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                elif mode == "darken":
                    v = div255(min(mul255(OC, A), mul255(C, oA)) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                elif mode == "lighten":
                    v = div255(max(mul255(OC, A), mul255(C, oA)) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                elif mode == "color-dodge":
                    am = mul255(oA, A)
                    if mul255(OC, A) + mul255(C, oA) >= am:
                        v = div255(am + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                    else:
                        v = div255(div255(mul255(C, oA), 255 - div255(OC, oA)) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                elif mode == "color-burn":
                    am = mul255(oA, A)
                    if mul255(OC, A) + mul255(C, oA) <= am:
                        v = div255(mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                    else:
                        cu, ou = div255(C, A), div255(OC, oA)
                        v = div255(mul255(am, cu + ou - 255) + mul255(C, 255 - oA) + mul255(OC, 255 - A), fa)
                else:
                    raise AssertionError(mode)
                px.append(max(0, min(255, v)))
            out[y, x] = px + [max(0, min(255, fa))]
    return out



class TestRasterBlend:
    def test_vectorized_matches_scalar_transliteration(self):
        import numpy as np

        from gdal_spark.oracle.blend import MODES, blend

        rng = np.random.default_rng(42)
        for mode in [m for m in MODES if m != "hsv-value"]:
            for (cb, co) in [(4, 4), (3, 3), (3, 4), (1, 3), (2, 4)]:
                base = rng.integers(0, 256, (5, 4, cb), dtype=np.uint8)
                over = rng.integers(0, 256, (5, 4, co), dtype=np.uint8)
                for opacity in (100, 60, 0):
                    got = blend(base, over, mode, opacity)
                    exp = _scalar_blend(base, over, mode, opacity)
                    np.testing.assert_array_equal(
                        got, exp, err_msg=f"{mode} {cb}/{co} op={opacity}")

    def test_hsv_value_replaces_value_only(self):
        import numpy as np

        from gdal_spark.oracle.blend import blend

        # pure red base at full value; overlay value 128 -> darker red
        base = np.zeros((2, 2, 3), dtype=np.uint8)
        base[:, :, 0] = 255
        over = np.full((2, 2, 1), 128, dtype=np.uint8)
        got = blend(base, over, "hsv-value")
        assert got.shape == (2, 2, 3)
        np.testing.assert_array_equal(got[:, :, 0], 128)  # value scaled
        np.testing.assert_array_equal(got[:, :, 1], 0)    # hue kept red
        np.testing.assert_array_equal(got[:, :, 2], 0)
        # gray base keeps gray at the new value
        gray = np.full((2, 2, 3), 77, dtype=np.uint8)
        got = blend(gray, over, "hsv-value")
        np.testing.assert_array_equal(got, np.full((2, 2, 3), 128))

    def test_blend_operator_hsv_merge_usecase(self, spark):
        """Every composition mode through the operator equals the oracle
        kernel pixel for pixel."""
        from functools import reduce

        import numpy as np
        from pyspark.sql import functions as F

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import raster_blend
        from gdal_spark.oracle.blend import MODES, blend

        imgs = images_df(spark, 4)
        src = {r["image_id"]: _dec(bytes(r["bytes"])) for r in imgs.collect()}
        got = reduce(lambda x, y: x.unionByName(y), [
            raster_blend(imgs, imgs, operator=m, opacity=70, emit_bytes=True)
            .withColumn("mode", F.lit(m)) for m in MODES]).collect()
        assert sorted((r["mode"], r["image_id"]) for r in got) == sorted(
            (m, i) for m in MODES for i in src)
        for r in got:
            a = src[r["image_id"]]
            exp = blend(a, a, r["mode"], 70)
            px = _dec(bytes(r["png"]))
            np.testing.assert_array_equal(px, exp, err_msg=r["mode"])


class TestSegmentizeConcaveHull:
    def test_segmentize_reference_semantics(self, spark):
        import pandas as pd

        from gdal_spark.oracle import geom as G
        from gdal_spark.pipeline import run_vector_pipeline, segmentize_coords

        # kernel-level: count rule floor(sqrt(d^2/max^2) - 0.01)
        assert segmentize_coords([(0, 0), (10, 0)], 3.0) == [
            (0.0, 0.0), (2.5, 0.0), (5.0, 0.0), (7.5, 0.0), (10.0, 0.0)]
        # direction invariance (the reference's reversal normalization)
        fwd = segmentize_coords([(0, 0), (10, 0), (10, 7)], 3.0)
        rev = segmentize_coords([(10, 7), (10, 0), (0, 0)], 3.0)
        assert fwd == rev[::-1]
        # through the pipeline step
        df = spark.createDataFrame(pd.DataFrame({
            "fid": [1],
            "wkb": [G.to_wkb("linestring", [(0, 0), (9, 0)])]}))
        out = run_vector_pipeline(df, "segmentize max_length=3").collect()
        k, d = G.parse_wkb(bytes(out[0]["wkb"]))
        assert k == "linestring" and len(d) == 4

    def test_concave_hull_tighter_than_convex(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.oracle import geom as G
        from gdal_spark.oracle.chishape import concave_hull
        from gdal_spark.pipeline import run_vector_pipeline

        rng = np.random.default_rng(5)
        pts = np.unique(np.vstack([
            rng.uniform([0, 0], [10, 3], (120, 2)),
            rng.uniform([0, 0], [3, 10], (120, 2))]), axis=0)

        def ring_area(r):
            x, y = r[:-1, 0], r[:-1, 1]
            return 0.5 * abs(np.sum(x * np.roll(y, -1)
                                    - np.roll(x, -1) * y))

        cv = concave_hull(pts, ratio=1.0)
        cc = concave_hull(pts, ratio=0.2)
        assert ring_area(cc) < ring_area(cv)
        # simple ring, closed
        assert tuple(cc[0]) == tuple(cc[-1])
        assert len(set(map(tuple, cc[:-1]))) == len(cc) - 1
        # pipeline step over a multipoint feature
        df = spark.createDataFrame(pd.DataFrame({
            "fid": [1],
            "wkb": [G.to_wkb("multipoint", [tuple(p) for p in pts[:60]])]}))
        out = run_vector_pipeline(df, "concave-hull ratio=0.4").collect()
        k, d = G.parse_wkb(bytes(out[0]["wkb"]))
        assert k == "polygon" and len(d[0]) >= 4


class TestRasterAsFeatures:
    def test_polygon_and_point_features(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.png import encode_png
        from gdal_spark.operators.vectorize import raster_as_features
        from gdal_spark.oracle import geom as G
        from gdal_spark.oracle.tiling import geotransform_3857

        px = np.arange(12, dtype=np.uint8).reshape(3, 4)[:, :, None]
        imgs = spark.createDataFrame(pd.DataFrame({
            "image_id": ["t"], "bytes": [bytearray(encode_png(px))],
            "lon": [10.0], "lat": [20.0], "gsd_m": [100.0]}))
        feats = raster_as_features(imgs, geometry="polygon").toPandas()
        assert len(feats) == 12
        gt = geotransform_3857(10.0, 20.0, 4, 3, 100.0)
        row = feats[(feats["px"] == 1) & (feats["py"] == 2)].iloc[0]
        k, d = G.parse_wkb(bytes(row["wkb"]))
        assert k == "polygon"
        xs = [p[0] for p in d[0]]
        ys = [p[1] for p in d[0]]
        assert abs(min(xs) - (gt[0] + 1 * gt[1])) < 1e-6
        assert abs(max(xs) - (gt[0] + 2 * gt[1])) < 1e-6
        assert row["bands"][0] == float(px[2, 1, 0])
        # point mode: center coordinates
        pts = raster_as_features(imgs, geometry="point").toPandas()
        row = pts[(pts["px"] == 0) & (pts["py"] == 0)].iloc[0]
        k, d = G.parse_wkb(bytes(row["wkb"]))
        assert k == "point"
        assert abs(d[0] - (gt[0] + 0.5 * gt[1])) < 1e-6

    def test_skip_nodata_and_none_geometry(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.png import encode_png
        from gdal_spark.operators.vectorize import raster_as_features

        px = np.zeros((2, 2, 1), dtype=np.uint8)
        px[0, 0, 0] = 7
        imgs = spark.createDataFrame(pd.DataFrame({
            "image_id": ["t"], "bytes": [bytearray(encode_png(px))],
            "lon": [0.0], "lat": [0.0], "gsd_m": [10.0]}))
        feats = raster_as_features(imgs, geometry="none",
                                   skip_nodata=0).toPandas()
        assert len(feats) == 1 and feats.iloc[0]["bands"][0] == 7.0
        assert feats.iloc[0]["wkb"] is None


class TestDemVariants:
    def test_regular_variant_matches_legacy(self):
        import numpy as np

        from gdal_spark.oracle.dem import hillshade, hillshade_variant

        rng = np.random.default_rng(1)
        dem = rng.uniform(0, 100, (20, 25))
        a = hillshade(dem, 10, 10, 2.0, 315, 45)
        b = hillshade_variant(dem, 10, 10, 2.0, 315, 45, "regular", "horn")
        np.testing.assert_array_equal(a, b)

    def test_zt_slope_exact_on_plane(self):
        import numpy as np

        from gdal_spark.oracle.dem import slope_degrees, slope_degrees_zt

        yy, xx = np.mgrid[0:10, 0:12]
        plane = 3.0 * xx + 4.0 * yy
        exp = np.degrees(np.arctan(5.0))
        for fn in (slope_degrees, slope_degrees_zt):
            s = fn(plane, 1.0, 1.0, 1.0)[2:-2, 2:-2]
            np.testing.assert_allclose(s, exp, atol=1e-9)

    def test_zt_aspect_azimuth_convention(self):
        import numpy as np

        from gdal_spark.oracle.dem import aspect_degrees_zt

        yy, xx = np.mgrid[0:8, 0:8]
        east_down = -1.0 * xx  # downhill to the east -> aspect 90
        a = aspect_degrees_zt(east_down)[2:-2, 2:-2]
        np.testing.assert_allclose(a, 90.0, atol=1e-9)
        north_down = 1.0 * yy  # downhill to the north -> aspect 0
        a = aspect_degrees_zt(north_down)[2:-2, 2:-2]
        np.testing.assert_allclose(a % 360.0, 0.0, atol=1e-9)
        assert aspect_degrees_zt(np.zeros((4, 4)))[1, 1] == -9999.0

    def test_variant_flat_closed_forms(self):
        import numpy as np

        from gdal_spark.oracle.dem import hillshade_variant

        flat = np.zeros((5, 5))
        md = hillshade_variant(flat, 1, 1, 1, 315, 45, "multidirectional")
        assert md[2, 2] == int(np.clip(1 + 254 * np.sin(np.radians(45)),
                                       1, 255))
        assert hillshade_variant(flat, 1, 1, 1, 315, 45, "igor")[2, 2] == 255
        assert hillshade_variant(flat, 1, 1, 1, 315, 45,
                                 "combined")[2, 2] == 255

    def test_igor_sun_direction(self):
        import numpy as np

        from gdal_spark.oracle.dem import hillshade_variant

        yy, xx = np.mgrid[0:10, 0:10]
        # sun at azimuth 315 (NW): the slope descending NW faces the sun
        # (fully lit, shadowness 0 -> 255); the slope descending SE faces
        # away (max aspect strength -> darkened)
        facing_sun = 1.0 * (xx + yy)     # downhill to the NW
        facing_away = -1.0 * (xx + yy)   # downhill to the SE
        lit = hillshade_variant(facing_sun, 1, 1, 1, 315, 45, "igor")[4, 4]
        dark = hillshade_variant(facing_away, 1, 1, 1, 315, 45, "igor")[4, 4]
        assert lit == 255 and dark < 150


class TestBlendInvariants:
    def test_opacity_zero_is_identity_on_opaque_base(self):
        import numpy as np

        from gdal_spark.oracle.blend import MODES, blend

        rng = np.random.default_rng(9)
        base = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        over = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        for mode in MODES:
            if mode in ("hsv-value", "hard-light"):
                continue  # hsv replaces V; hard-light swaps opacity roles
            got = blend(base, over, mode, opacity=0)
            np.testing.assert_array_equal(got[:, :, :3], base, err_msg=mode)
            np.testing.assert_array_equal(got[:, :, 3], 255, err_msg=mode)

    def test_screen_with_white_is_white(self):
        import numpy as np

        from gdal_spark.oracle.blend import blend

        rng = np.random.default_rng(9)
        base = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
        white = np.full((4, 4, 3), 255, dtype=np.uint8)
        got = blend(base, white, "screen")
        np.testing.assert_array_equal(got[:, :, :3], 255)

    def test_multiply_with_black_is_black(self):
        import numpy as np

        from gdal_spark.oracle.blend import blend

        rng = np.random.default_rng(9)
        base = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
        black = np.zeros((4, 4, 3), dtype=np.uint8)
        got = blend(base, black, "multiply")
        np.testing.assert_array_equal(got[:, :, :3], 0)

    def test_darken_lighten_bounds(self):
        import numpy as np

        from gdal_spark.oracle.blend import blend

        rng = np.random.default_rng(9)
        a = rng.integers(0, 256, (5, 5, 3), dtype=np.uint8)
        b = rng.integers(0, 256, (5, 5, 3), dtype=np.uint8)
        lo = blend(a, b, "darken")[:, :, :3].astype(int)
        hi = blend(a, b, "lighten")[:, :, :3].astype(int)
        # rounding in the integer math allows off-by-2 around min/max
        assert (lo <= np.minimum(a, b).astype(int) + 2).all()
        assert (hi >= np.maximum(a, b).astype(int) - 2).all()


class TestViewshedCumulative:
    def test_flat_dem_all_visible(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.png import encode_png
        from gdal_spark.operators.rasterops import viewshed_cumulative

        flat = np.full((16, 16, 1), 50, dtype=np.uint8)
        imgs = spark.createDataFrame(pd.DataFrame({
            "image_id": ["flat"], "bytes": [bytearray(encode_png(flat))]}))
        got = viewshed_cumulative(imgs, spacing=8,
                                  downsample_to=None).collect()[0]
        # 2x2 observer grid on flat ground: every cell sees every observer
        assert got["n_observers"] == 4
        assert got["max_count"] == 4
        assert got["mean_count"] == 4.0

    def test_wall_blocks_some_observers(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.png import encode_png
        from gdal_spark.operators.rasterops import viewshed_cumulative

        dem = np.full((16, 16), 10, dtype=np.uint8)
        dem[:, 5] = 200  # tall north-south wall (off the observer grid)
        imgs = spark.createDataFrame(pd.DataFrame({
            "image_id": ["wall"],
            "bytes": [bytearray(encode_png(dem[:, :, None]))]}))
        got = viewshed_cumulative(imgs, spacing=8,
                                  downsample_to=None).collect()[0]
        # the wall splits the observers: only the wall top stays visible
        # to all 4, and the average drops well below the flat case
        assert got["max_count"] == 4
        assert got["mean_count"] < 3.0


class TestRound5Steps:
    """gdal vector make-point / set-field-type / set-geom-type / combine +
    gdal raster color-map pipeline steps (apps/gdalalg_vector_*.cpp,
    apps/gdalalg_raster_color_map.cpp)."""

    def test_make_point_and_set_field_type(self, spark):
        import pandas as pd

        from gdal_spark.oracle import geom as G
        from gdal_spark.pipeline import run_vector_pipeline

        df = spark.createDataFrame(pd.DataFrame({
            "fid": [1, 2], "px": [1.5, -3.0], "py": [2.5, 4.0],
            "wkb": [G.to_wkb("point", (0, 0))] * 2}))
        out = run_vector_pipeline(
            df, "make-point x=px y=py ! set-field-type field=fid type=Real")
        got = out.toPandas().sort_values("fid", ignore_index=True)
        assert str(out.schema["fid"].dataType) == "DoubleType()"
        k, d = G.parse_wkb(bytes(got["wkb"][0]))
        assert k == "point" and list(np.asarray(d).ravel()) == [1.5, 2.5]

    def test_set_geom_type_promotes_to_multi(self, spark):
        from gdal_spark.oracle import geom as G
        from gdal_spark.pipeline import run_vector_pipeline

        df = TestVectorPipeline()._layer(spark)
        out = run_vector_pipeline(df, "set-geom-type type=multi")
        kinds = {r["fid"]: G.parse_wkb(bytes(r["wkb"]))[0]
                 for r in out.collect()}
        assert kinds == {1: "multipolygon", 2: "multipoint",
                         3: "multilinestring"}

    def test_combine_groups_points(self, spark):
        import pandas as pd

        from gdal_spark.oracle import geom as G
        from gdal_spark.pipeline import run_vector_pipeline

        df = spark.createDataFrame(pd.DataFrame({
            "grp": ["a", "a", "b"],
            "wkb": [G.to_wkb("point", (0, 0)),
                    G.to_wkb("multipoint", [(1, 1), (2, 2)]),
                    G.to_wkb("point", (9, 9))]}))
        out = run_vector_pipeline(df, "combine group_by=grp").toPandas()
        got = {r["grp"]: G.parse_wkb(bytes(r["wkb"]))
               for _, r in out.iterrows()}
        assert got["a"][0] == "multipoint"
        pts_a = sorted(tuple(np.asarray(p).ravel()) for p in got["a"][1])
        assert pts_a == [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]
        assert got["b"][0] == "multipoint"
        assert [tuple(np.asarray(p).ravel()) for p in got["b"][1]] == [
            (9.0, 9.0)]
        # keep_nested is accepted; 2-level WKB cannot nest, so same output
        nested = run_vector_pipeline(
            df, "combine group_by=grp keep_nested=true").toPandas()
        assert ({r["grp"]: bytes(r["wkb"]) for _, r in nested.iterrows()}
                == {r["grp"]: bytes(r["wkb"]) for _, r in out.iterrows()})

    def test_color_map_step_matches_dem_metrics_kernel(self, spark):
        import numpy as np

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.oracle.dem import color_relief_rgb
        from gdal_spark.codecs.registry import decode
        from gdal_spark.pipeline import run_pipeline

        imgs = images_df(spark, 6).where("fmt = 'png'")
        out = run_pipeline(imgs, "color-map mode=nearest",
                           emit_bytes=True).toPandas()
        src = {r["image_id"]: r["bytes"]
               for r in imgs.select("image_id", "bytes").collect()}
        assert len(out) > 0
        for _, r in out.iterrows():
            a = decode(src[r["image_id"]])[:, :, 0].astype(np.float64)
            exp = color_relief_rgb(a, "nearest")
            got = decode(bytes(r["png"]))
            np.testing.assert_array_equal(got, exp)

    def test_unscale_and_check_geometry(self, spark):
        import pandas as pd

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.oracle import geom as G
        from gdal_spark.operators.layer_algebra import export_schema
        from gdal_spark.pipeline import run_pipeline, run_vector_pipeline

        # unscale: value chain = raw * 0.5 + 10, checked via vmin/vmax
        imgs = images_df(spark, 3).where("fmt = 'png'")
        out = run_pipeline(imgs, "unscale scale=0.5 offset=10").toPandas()
        base = run_pipeline(imgs, "scale src_min=0 src_max=255 "
                                  "dst_min=0 dst_max=255").toPandas()
        m = out.set_index("image_id")
        b = base.set_index("image_id")
        for iid in m.index:
            assert abs(m.loc[iid, "vmin"] - (b.loc[iid, "vmin"] * 0.5 + 10)) < 1e-9
            assert abs(m.loc[iid, "vmax"] - (b.loc[iid, "vmax"] * 0.5 + 10)) < 1e-9

        # check-geometry: bowtie is invalid, square is valid
        df = spark.createDataFrame(pd.DataFrame({
            "fid": [1, 2],
            "wkb": [
                G.to_wkb("polygon",
                         [[(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)]]),
                G.to_wkb("polygon",
                         [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]]),
            ]}))
        flagged = run_vector_pipeline(df, "check-geometry").toPandas()
        got = dict(zip(flagged["fid"], flagged["geom_valid"]))
        assert got[2] == 1 and got[1] == 0
        kept = run_vector_pipeline(df, "check-geometry drop=true").toPandas()
        assert kept["fid"].tolist() == [2]

        # export-schema: OGR type names + geometry column listed apart
        import json
        sch = json.loads(export_schema(df))
        lyr = sch["layers"][0]
        assert {f["name"]: f["type"] for f in lyr["fields"]} == {
            "fid": "Integer64"}
        assert lyr["geometry_fields"][0]["encoding"] == "WKB"


class TestDatasetCheck:
    """gdal dataset check (round 5): read-error sweep."""

    def test_clean_and_corrupt(self, spark):
        import pandas as pd

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import dataset_check

        imgs = images_df(spark, 24).select("image_id", "bytes", "fmt")
        rep = dataset_check(imgs).toPandas()
        assert rep["n_errors"].sum() == 0
        assert rep["n"].sum() == 24
        bad = spark.createDataFrame(pd.DataFrame({
            "image_id": ["t", "m"],
            "bytes": [b"\x89PNG\r\n\x1a\n" + b"\x00" * 20,
                      b"NOTAFORMAT" * 4],
            "fmt": ["png", "png"],
        }), "image_id string, bytes binary, fmt string")
        rep2 = dataset_check(imgs.unionByName(bad)).toPandas()
        assert rep2["n_errors"].sum() == 2
        assert rep2["n"].sum() == 26
        errs = rep2[rep2["n_errors"] > 0]["first_error"].iloc[0]
        assert errs != ""
