"""Second kernel batch: cubic/lanczos/average/mode resampling, contour,
fill-nodata, union/symdifference/update layer algebra."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.oracle import resample as RS
from gdal_spark.oracle.contour import contour_segments, contour_summary, fill_nodata


class TestKernels:
    def test_cubic_constant_preserved(self):
        a = np.full((16, 16), 99, dtype=np.uint8)
        assert (RS.resample_convolve(a, 7, 11, "cubic") == 99).all()

    def test_lanczos_constant_preserved(self):
        a = np.full((16, 16), 42, dtype=np.uint8)
        assert (RS.resample_convolve(a, 32, 8, "lanczos") == 42).all()

    def test_cubic_identity(self):
        a = (np.arange(256) % 251).astype(np.uint8).reshape(16, 16)
        out = RS.resample_convolve(a, 16, 16, "cubic")
        # identity resize: kernel centered on each sample -> exact
        np.testing.assert_array_equal(out, a)

    def test_cubic_linear_ramp(self):
        # cubic interpolation reproduces linear ramps exactly (interior)
        a = np.tile(np.arange(0, 128, 2, dtype=np.float64), (8, 1))
        out = RS.resample_convolve(a, 8, 128, "cubic")
        exp = (np.arange(128) + 0.5) * 0.5 - 0.5
        exp = np.clip(exp * 2.0, 0, 126)
        np.testing.assert_allclose(out[:, 4:-4], np.tile(exp, (8, 1))[:, 4:-4],
                                   atol=1e-9)

    def test_average_exact(self):
        a = np.arange(16, dtype=np.uint8).reshape(4, 4)
        out = RS.resample_average(a, 2, 2)
        exp = np.array([[2.5, 4.5], [10.5, 12.5]])
        np.testing.assert_array_equal(out, np.floor(exp + 0.5).astype(np.uint8))

    def test_average_3band(self):
        a = np.stack([np.full((4, 4), v, dtype=np.uint8) for v in (10, 20, 30)], axis=2)
        out = RS.resample_average(a, 2, 2)
        assert out.shape == (2, 2, 3)
        assert (out[..., 0] == 10).all() and (out[..., 2] == 30).all()

    def test_mode(self):
        a = np.array([[1, 1, 2, 2], [1, 3, 2, 2], [5, 5, 6, 6], [5, 5, 7, 6]],
                     dtype=np.uint8)
        out = RS.resample_mode(a, 2, 2)
        np.testing.assert_array_equal(out, [[1, 2], [5, 6]])

    def test_mode_tiebreak_smallest(self):
        a = np.array([[1, 2], [2, 1]], dtype=np.uint8)
        assert RS.resample_mode(a, 1, 1)[0, 0] == 1

    def test_cubicspline_constant_and_smoothing(self):
        a = np.full((16, 16), 77, dtype=np.uint8)
        assert (RS.resample_convolve(a, 8, 8, "cubicspline") == 77).all()
        # B-spline SMOOTHS (unlike Catmull-Rom it does not interpolate):
        # an impulse spreads mass to its neighbors
        b = np.zeros((9, 9), dtype=np.float64)
        b[4, 4] = 81.0
        out = RS.resample_convolve(b, 9, 9, "cubicspline")
        assert 0 < out[4, 4] < 81.0 and out[4, 3] > 0

    def test_stat_kernels_even_factor(self):
        a = np.array([[1, 2, 5, 6], [3, 4, 7, 8],
                      [9, 10, 13, 14], [11, 12, 15, 16]], dtype=np.uint8)
        assert (RS.resample_stat(a, 2, 2, "min")
                == np.array([[1, 5], [9, 13]], np.uint8)).all()
        assert (RS.resample_stat(a, 2, 2, "max")
                == np.array([[4, 8], [12, 16]], np.uint8)).all()
        np.testing.assert_array_equal(
            RS.resample_stat(a.astype(np.float64), 2, 2, "sum"),
            [[10.0, 26.0], [42.0, 58.0]],
        )
        # med over 4 sorted values picks index ceil(0.5*4 - 1) = 1
        assert (RS.resample_stat(a, 2, 2, "med")
                == np.array([[2, 6], [10, 14]], np.uint8)).all()
        # q1 -> ceil(.25*4-1) = 0, q3 -> ceil(.75*4-1) = 2
        assert (RS.resample_stat(a, 2, 2, "q1")
                == np.array([[1, 5], [9, 13]], np.uint8)).all()
        assert (RS.resample_stat(a, 2, 2, "q3")
                == np.array([[3, 7], [11, 15]], np.uint8)).all()
        rms = RS.resample_stat(a, 2, 2, "rms")
        exp = np.floor(np.sqrt([[30 / 4, 174 / 4], [446 / 4, 846 / 4]]) + 0.5)
        np.testing.assert_array_equal(rms, exp.astype(np.uint8))

    def test_stat_kernels_ragged_matches_blocked(self):
        rng = np.random.default_rng(3)
        a = rng.integers(0, 255, (12, 12), dtype=np.uint8)
        for stat in RS.STAT_KERNELS:
            even = RS.resample_stat(a, 4, 4, stat)  # factor 3: even
            # ragged: 12 -> 5 exercises the per-cell loop path; just shape +
            # bound checks (boxes differ from even factors by construction)
            ragged = RS.resample_stat(a, 5, 5, stat)
            assert even.shape == (4, 4) and ragged.shape == (5, 5)
            if stat in ("min", "max", "med", "q1", "q3"):
                assert set(np.unique(ragged)) <= set(np.unique(a))

    def test_stat_kernels_3band(self):
        a = np.stack([np.full((4, 4), v, np.uint8) for v in (10, 20, 30)], 2)
        for stat in ("min", "max", "med", "rms"):
            out = RS.resample_stat(a, 2, 2, stat)
            assert out.shape == (2, 2, 3)
            assert (out[..., 0] == 10).all() and (out[..., 2] == 30).all()

    def test_warp_convolution_kernels(self):
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        rng = np.random.default_rng(8)
        a = rng.integers(0, 255, (64, 64, 3), dtype=np.uint8)
        gt = geotransform_3857(5.0, 45.0, 64, 64, 100.0)
        near, _ = warp_3857_to_4326(a, gt, "nearest")
        for m in ("cubic", "cubicspline", "lanczos"):
            out, dst_gt = warp_3857_to_4326(a, gt, m)
            assert out.shape == near.shape and out.dtype == np.uint8
            # interiors track the nearest warp closely on average
            diff = np.abs(out[8:-8, 8:-8].astype(float)
                          - near[8:-8, 8:-8].astype(float))
            assert diff.mean() < 40, (m, diff.mean())
        const = np.full((32, 32), 200, np.uint8)
        gt2 = geotransform_3857(5.0, 45.0, 32, 32, 100.0)
        for m in ("cubic", "cubicspline", "lanczos"):
            out, _ = warp_3857_to_4326(const, gt2, m)
            inner = out[4:-4, 4:-4]
            assert (inner == 200).all(), m

    def test_gauss_2x2_interior_kernel(self):
        a = np.zeros((8, 8), dtype=np.float64)
        a[2, 2] = 16.0  # impulse at a window-root position
        out = RS.gauss_2x2(a)
        # out[1,1] convolves rows/cols 2..4 with [[1,2,1],[2,4,2],[1,2,1]]/16
        assert out[1, 1] == pytest.approx(16.0 * 1 / 16)
        assert out[0, 0] == pytest.approx(16.0 * 1 / 16)  # (2,2) is k[2][2] of win at 0
        const = np.full((16, 16), 200, dtype=np.uint8)
        assert (RS.gauss_2x2(const) == 200).all()  # edge renormalization exact

    def test_rms_2x2(self):
        a = np.array([[0, 0], [0, 2]], dtype=np.uint8)
        # rms = sqrt(4/4) = 1
        assert RS.rms_2x2(a)[0, 0] == 1
        b = np.array([[3.0, 4.0], [0.0, 0.0]])
        assert RS.rms_2x2(b)[0, 0] == pytest.approx(np.sqrt(25 / 4))

    def test_contour_polylines_conserve_segments(self):
        # radial cone -> each level is one closed ring
        yy, xx = np.mgrid[0:33, 0:33]
        cone = 255.0 - 14.0 * np.hypot(xx - 16, yy - 16)
        levels = [64.0, 128.0, 192.0]
        from gdal_spark.oracle.contour import (
            contour_polylines, contour_summary,
        )

        summary = contour_summary(cone, levels)
        lines = contour_polylines(cone, levels)
        for lv in levels:
            n_seg, total = summary[lv]
            got = lines[lv]
            seg_in_lines = sum(ln.shape[0] - 1 for ln in got)
            assert seg_in_lines == n_seg  # every segment used exactly once
            ln_total = sum(
                float(np.hypot(*(ln[1:] - ln[:-1]).T).sum()) for ln in got
            )
            assert ln_total == pytest.approx(total)
            # a cone iso-line is a single closed ring
            assert len(got) == 1
            assert np.allclose(got[0][0], got[0][-1])

    def test_utm_warp_convolution_kernels(self):
        """The non-separable UTM warp accepts the 2-D convolution kernels:
        constants are preserved in the interior, and the kernel output
        tracks the nearest warp on average."""
        from gdal_spark.oracle.utm import lonlat_to_utm
        from gdal_spark.oracle.warp import warp_utm_to_4326

        rng = np.random.default_rng(9)
        a = rng.integers(0, 255, (48, 48, 3), dtype=np.uint8)
        e0, n0 = lonlat_to_utm(3.5, 44.0, 31)
        gt = [float(e0) - 24 * 50.0, 50.0, 0.0, float(n0) + 24 * 50.0, 0.0, -50.0]
        near, _ = warp_utm_to_4326(a, gt, 31, "nearest")
        for m in ("cubic", "cubicspline", "lanczos"):
            out, _ = warp_utm_to_4326(a, gt, 31, m)
            assert out.shape == near.shape and out.dtype == np.uint8
            diff = np.abs(out[6:-6, 6:-6].astype(float)
                          - near[6:-6, 6:-6].astype(float))
            assert diff.mean() < 45, (m, diff.mean())
        const = np.full((32, 32), 180, np.uint8)
        gt2 = [float(e0) - 16 * 50.0, 50.0, 0.0, float(n0) + 16 * 50.0, 0.0, -50.0]
        for m in ("cubic", "cubicspline", "lanczos"):
            out, _ = warp_utm_to_4326(const, gt2, 31, m)
            assert (out[4:-4, 4:-4] == 180).all(), m

    def test_warp_box_stats_both_paths(self):
        """All 9 box-statistic kernels run through BOTH warp operators
        (gdalwarpkernel.cpp GWKAverageOrModeThread): constants preserved,
        order relations hold (min <= q1 <= med <= q3 <= max), average is
        mean-preserving, and a brute-force per-pixel replay of one UTM
        box-median pixel matches."""
        from gdal_spark.oracle.utm import lonlat_to_utm, lonlat_to_utm as _
        from gdal_spark.oracle.warp import (
            BOX_STATS, _box_bounds, warp_3857_to_4326, warp_utm_to_4326)

        rng = np.random.default_rng(11)
        a = rng.integers(0, 255, (60, 52, 3), dtype=np.uint8)
        gt = [1.0e6, 20.0, 0.0, 4.0e6, 0.0, -20.0]
        outs = {}
        for m in BOX_STATS:
            out, dgt = warp_3857_to_4326(a, gt, method=m)
            assert out.shape == a.shape and out.dtype == np.uint8
            outs[m] = out.astype(np.int64)
        inner = np.s_[2:-2, 2:-2]
        assert (outs["min"][inner] <= outs["q1"][inner]).all()
        assert (outs["q1"][inner] <= outs["med"][inner]).all()
        assert (outs["med"][inner] <= outs["q3"][inner]).all()
        assert (outs["q3"][inner] <= outs["max"][inner]).all()
        assert abs(outs["average"].mean() - float(a.mean())) < 4.0

        const = np.full((40, 40), 99, np.uint8)
        e0, n0 = lonlat_to_utm(3.5, 44.0, 31)
        gtu = [float(e0) - 20 * 50.0, 50.0, 0.0,
               float(n0) + 20 * 50.0, 0.0, -50.0]
        for m in BOX_STATS:
            out, _dgt = warp_utm_to_4326(const, gtu, 31, m)
            interior = out[4:-4, 4:-4]
            if m == "sum":
                assert (interior >= 99).all(), m
            else:
                assert (interior == 99).all(), m

    def test_box_bounds_snap(self):
        from gdal_spark.oracle.warp import _box_bounds

        # exact integer edges: box [2, 5) -> pixels 2, 3, 4
        i0, i1 = _box_bounds(np.array([2.0]), np.array([5.0]), 10)
        assert (i0[0], i1[0]) == (2, 5)
        # sliver box still yields >= 1 pixel
        i0, i1 = _box_bounds(np.array([3.4]), np.array([3.4]), 10)
        assert i1[0] == i0[0] + 1
        # clipped to the raster
        i0, i1 = _box_bounds(np.array([-4.0]), np.array([50.0]), 10)
        assert (i0[0], i1[0]) == (0, 10)

    @pytest.mark.parametrize("method", ["cubic", "lanczos", "average", "mode"])
    def test_scale_to_tile_all_methods(self, method):
        from gdal_spark.fixtures.images import make_pixels

        a = make_pixels(100, 80)
        out = RS.scale_to_tile(a, 64, method)
        assert out.shape == (64, 64, 3)
        assert out.dtype == np.uint8


class TestTilingMethods:
    @pytest.mark.parametrize("method", ["cubic", "average"])
    def test_pyramid_render_with_kernel(self, method):
        from gdal_spark.codecs.registry import decode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.oracle.tiling import render_image_tiles

        r = generate_images_pdf(1).iloc[0]
        arr = decode(r["bytes"])
        tiles = list(render_image_tiles(arr, r["lon"], r["lat"], r["gsd_m"], method))
        assert len(tiles) >= 1
        for _, _, _, t in tiles:
            assert t.shape == (256, 256, 3)


class TestContourFill:
    def test_contour_simple_step(self):
        # half the raster above the level -> one vertical line of segments
        a = np.zeros((6, 6))
        a[:, 3:] = 10.0
        segs = contour_segments(a, [5.0])
        assert len(segs) == 5  # one per cell row
        for _, x1, y1, x2, y2 in segs:
            assert x1 == pytest.approx(2.5)
            assert x2 == pytest.approx(2.5)

    def test_contour_summary_lengths(self):
        a = np.zeros((6, 6))
        a[:, 3:] = 10.0
        summ = contour_summary(a, [5.0])
        n, ln = summ[5.0]
        assert n == 5
        assert ln == pytest.approx(5.0)

    def test_contour_no_crossing(self):
        assert contour_segments(np.zeros((4, 4)), [5.0]) == []

    def test_contour_band_polygons_cone_partition(self):
        """Marching-squares interval polygons: interpolated circle areas
        within 0.5% of exact, rings nested (hole = next level's circle),
        and the bands PARTITION the pixel-center box exactly."""
        from gdal_spark.oracle.contour import contour_band_polygons

        y, x = np.mgrid[0:21, 0:21]
        v = 200.0 - 10.0 * np.hypot(x - 10, y - 10)

        def ring_area(r):
            return 0.5 * abs(np.sum(r[:-1, 0] * r[1:, 1]
                                    - r[1:, 0] * r[:-1, 1]))

        def poly_area(polys):
            return sum(ring_area(p[0]) - sum(ring_area(h) for h in p[1:])
                       for p in polys)

        mid = contour_band_polygons(v, 100.0, 150.0)
        assert len(mid) == 1 and len(mid[0]) == 2  # outer + hole
        assert ring_area(mid[0][0]) == pytest.approx(np.pi * 100, rel=5e-3)
        assert ring_area(mid[0][1]) == pytest.approx(np.pi * 25, rel=0.01)
        low = contour_band_polygons(v, -np.inf, 100.0)
        top = contour_band_polygons(v, 150.0, np.inf)
        total = poly_area(low) + poly_area(mid) + poly_area(top)
        # pixel-edge extent: the bands tile the FULL 21x21 footprint
        assert total == pytest.approx(441.0, abs=1e-6)

    def test_contour_band_polygons_nested_depth(self):
        """A crater profile (ring mountain) yields an annulus polygon at
        the high band and a nested island in the low band."""
        from gdal_spark.oracle.contour import contour_band_polygons

        y, x = np.mgrid[0:31, 0:31]
        d = np.hypot(x - 15, y - 15)
        v = 100.0 * np.exp(-((d - 8.0) ** 2) / 8.0)  # high ring at r=8
        high = contour_band_polygons(v, 50.0, np.inf)
        assert len(high) == 1 and len(high[0]) == 2  # annulus: outer+hole
        low = contour_band_polygons(v, -np.inf, 50.0)
        # low band: box-with-hole plus the crater-floor island inside
        assert sum(1 for p in low) == 2
        areas = sorted((len(p), ) for p in low)
        assert any(len(p) >= 2 for p in low)

    def test_ancillary_ops_native_resolution(self, spark):
        """downsample_to=None runs proximity/sieve/viewshed/contour/
        fill_nodata at NATIVE resolution (the reference never decimates);
        native-res goldens pinned against the oracle kernels on the
        64x64 fixture image."""
        from gdal_spark.codecs.registry import decode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import (
            contour, fill_nodata_stats, viewshed_stats)
        from gdal_spark.operators.vectorize import proximity_map, sieve_filter
        from gdal_spark.oracle.contour import contour_summary
        from gdal_spark.oracle.rasterize import proximity as prox_kernel
        from gdal_spark.oracle.viewshed import viewshed as vs_kernel

        pdf = generate_images_pdf(4).iloc[[3]]   # img 3: 257x300 png
        df = spark.createDataFrame(pdf)
        a = decode(pdf["bytes"].iloc[0])[:, :, 0]
        h, w = a.shape
        tv = int(a[0, 0])

        got = proximity_map(df, target_value=tv,
                            downsample_to=None).toPandas().iloc[0]
        d = prox_kernel(a == tv)
        assert got["dmax"] == pytest.approx(round(float(d.max()), 4))
        assert got["dmean"] == pytest.approx(round(float(d.mean()), 4))

        got = viewshed_stats(df, downsample_to=None).toPandas().iloc[0]
        vis = vs_kernel(a.astype(np.float64), h // 2, w // 2, 2.0, 0.0)
        assert got["n_visible"] == int(vis.sum())

        got = contour(df, downsample_to=None).toPandas()
        exp = contour_summary(a.astype(np.float64), [64.0, 128.0, 192.0])
        assert len(got) == len(exp)
        for _, row in got.iterrows():
            n, ln = exp[row["level"]]
            assert row["n_segments"] == n

        got = sieve_filter(df, downsample_to=None).toPandas().iloc[0]
        assert got["n_before"] >= got["n_after"] > 0

        got = fill_nodata_stats(df, downsample_to=None).toPandas()
        assert len(got) == 1

    def test_fill_nodata(self):
        a = np.full((9, 9), 100.0)
        mask = np.zeros((9, 9), dtype=bool)
        mask[4, 4] = True
        a[4, 4] = -1
        out = fill_nodata(a, mask)
        assert out[4, 4] == pytest.approx(100.0)
        assert (out[~mask] == 100.0).all()

    def test_fill_nodata_gradient(self):
        a = np.tile(np.arange(9, dtype=np.float64), (9, 1))
        mask = np.zeros((9, 9), dtype=bool)
        mask[4, 4] = True
        out = fill_nodata(a, mask, max_distance=2)
        assert out[4, 4] == pytest.approx(4.0, abs=0.2)


class TestLayerAlgebraCompletion:
    @pytest.fixture(scope="class")
    def layers(self, spark):
        a = spark.createDataFrame(
            pd.DataFrame(
                [
                    dict(aid=1, minx=0.0, miny=0.0, maxx=10e5, maxy=10e5),
                    dict(aid=2, minx=-20e5, miny=-20e5, maxx=-15e5, maxy=-15e5),
                ]
            )
        )
        b = spark.createDataFrame(
            pd.DataFrame([dict(bid=10, minx=5e5, miny=5e5, maxx=20e5, maxy=20e5)])
        )
        return a, b

    def _area(self, df):
        return ((df.maxx - df.minx) * (df.maxy - df.miny)).sum()

    def test_union_partition(self, layers):
        from gdal_spark.operators.layer_algebra import union

        a, b = layers
        got = union(a, b).toPandas()
        both = got[got.aid.notna() & got.bid.notna()]
        a_only = got[got.bid.isna()]
        b_only = got[got.aid.isna()]
        assert len(both) == 1  # one intersecting pair
        # pieces partition area(A) + area(B): total = A + B - overlap
        total = self._area(got)
        assert total == pytest.approx(
            self._area(a.toPandas()) + self._area(b.toPandas()) - self._area(both)
        )
        assert len(a_only) >= 2 and len(b_only) >= 2

    def test_sym_difference(self, layers):
        from gdal_spark.operators.layer_algebra import sym_difference

        a, b = layers
        got = sym_difference(a, b).toPandas()
        overlap = 5e5 * 5e5
        assert self._area(got) == pytest.approx(
            self._area(a.toPandas()) + self._area(b.toPandas()) - 2 * overlap
        )

    def test_update(self, layers):
        from gdal_spark.operators.layer_algebra import update

        a, b = layers
        got = update(a, b).toPandas()
        # method layer passes through whole; A clipped around it
        assert ((got.bid == 10) & (got.minx == 5e5)).any()
        assert self._area(got) == pytest.approx(
            self._area(a.toPandas()) + self._area(b.toPandas())
            - 5e5 * 5e5  # overlap erased from A
        )


class TestContourOperator:
    def test_contour_operator(self, spark):
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import contour

        imgs = spark.createDataFrame(generate_images_pdf(3))
        got = contour(imgs).toPandas()
        assert set(got["level"].unique()) <= {64.0, 128.0, 192.0}
        assert (got["n_segments"] > 0).all()

    @staticmethod
    def _band1_64(blob):
        """Band 1 as the operators see it by default: nearest-decimated
        to 64x64 when either side exceeds 64."""
        from gdal_spark.codecs.registry import decode

        a = decode(blob)[:, :, 0]
        if a.shape[0] > 64 or a.shape[1] > 64:
            a = RS.resample_nearest(a, 64, 64)
        return a

    def test_fill_nodata_operator(self, spark):
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import fill_nodata_stats
        from gdal_spark.oracle.checksum import checksum_image

        pdf = generate_images_pdf(3)
        got = fill_nodata_stats(spark.createDataFrame(pdf)).toPandas()
        assert (got["n_filled"] >= 0).all()
        assert (got["n_filled"] > 0).any()
        got = got.set_index("image_id")
        for r in pdf.itertuples(index=False):
            a = self._band1_64(r.bytes)
            mask = a < 8
            filled = fill_nodata(a.astype(np.float64), mask, 8, 0)
            exp = np.clip(np.floor(filled + 0.5), 0, 255).astype(np.uint8)
            assert got.loc[r.image_id, "n_filled"] == mask.sum()
            assert got.loc[r.image_id, "cs"] == checksum_image(exp)[0]

    def test_contour_lines_operator(self, spark):
        """One MultiLineString per (image, level) holding the chained
        iso-polylines of the oracle, with their count and total length."""
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import contour_lines
        from gdal_spark.oracle import geom as G
        from gdal_spark.oracle.contour import contour_polylines

        pdf = generate_images_pdf(3)
        got = contour_lines(spark.createDataFrame(pdf)).toPandas()
        exp = {}
        for r in pdf.itertuples(index=False):
            a = self._band1_64(r.bytes).astype(np.float64)
            for level, lines in contour_polylines(
                    a, [64.0, 128.0, 192.0]).items():
                if lines:
                    exp[(r.image_id, float(level))] = lines
        assert len(got) == len(exp) > 0
        for row in got.itertuples(index=False):
            lines = exp[(row.image_id, row.level)]
            assert row.n_lines == len(lines)
            assert row.total_len == float(np.round(
                G.length(("multilinestring", lines)), 4))
            assert bytes(row.wkb) == G.to_wkb("multilinestring", lines)


class TestOverviewOperator:
    @pytest.mark.parametrize("method", ["gauss", "rms"])
    def test_matches_kernel(self, spark, method):
        """One 2x overview level per image (odd edges cropped), checksums
        of every band equal to the oracle kernel's."""
        from gdal_spark.codecs.registry import decode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.rasterops import overview_downsample
        from gdal_spark.oracle.checksum import checksum_image

        pdf = generate_images_pdf(4)
        got = overview_downsample(spark.createDataFrame(pdf), method)
        got = got.toPandas().set_index("image_id")
        kernel = RS.gauss_2x2 if method == "gauss" else RS.rms_2x2
        for r in pdf.itertuples(index=False):
            a = decode(r.bytes)
            v = kernel(a[:a.shape[0] & ~1, :a.shape[1] & ~1])
            row = got.loc[r.image_id]
            assert (row.w2, row.h2) == (v.shape[1], v.shape[0])
            assert [row.cs1, row.cs2, row.cs3] == list(checksum_image(v))


class TestWarpNodataMasking:
    """Validity-mask semantics (alg/gdalwarpkernel.cpp:614): nodata pixels
    never contribute to any kernel, renormalization keeps constants exact,
    and no-valid-contributor destinations get dst_nodata."""

    ND, DND = 7, 201

    def _const_with_collar(self, n=48, c=6, val=100):
        a = np.full((n, n), val, np.uint8)
        a[:c, :] = self.ND
        a[-c:, :] = self.ND
        a[:, :c] = self.ND
        a[:, -c:] = self.ND
        return a

    def test_point_kernels_constant_never_bleeds(self):
        """Renormalized point kernels on a constant-valued interior must
        emit either the constant or dst_nodata — any intermediate value
        means an invalid tap leaked into the weights."""
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        a = self._const_with_collar()
        gt = geotransform_3857(5.0, 45.0, 48, 48, 100.0)
        for m in ("nearest", "bilinear", "cubic", "cubicspline", "lanczos"):
            out, _ = warp_3857_to_4326(a, gt, m, src_nodata=self.ND,
                                       dst_nodata=self.DND)
            vals = set(np.unique(out))
            assert vals <= {100, self.DND}, (m, vals)
            assert 100 in vals and self.DND in vals, m

    def test_box_stats_constant_never_bleeds(self):
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        a = self._const_with_collar()
        gt = geotransform_3857(5.0, 45.0, 48, 48, 100.0)
        for m in ("average", "mode", "min", "max", "med", "q1", "q3", "rms"):
            out, _ = warp_3857_to_4326(a, gt, m, src_nodata=self.ND,
                                       dst_nodata=self.DND)
            vals = set(np.unique(out))
            assert vals <= {100, self.DND}, (m, vals)

    def test_sum_and_all_invalid(self):
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        gt = geotransform_3857(5.0, 45.0, 32, 32, 100.0)
        allbad = np.full((32, 32), self.ND, np.uint8)
        for m in ("nearest", "bilinear", "cubic", "average", "sum", "mode",
                  "med"):
            out, _ = warp_3857_to_4326(allbad, gt, m, src_nodata=self.ND,
                                       dst_nodata=self.DND)
            assert (out == self.DND).all(), m

    def test_nearest_matches_warped_validity(self):
        """Masked nearest == unmasked nearest where the warped validity
        raster says valid, dst_nodata elsewhere."""
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        rng = np.random.default_rng(11)
        a = rng.integers(0, 255, (40, 40), dtype=np.uint8)
        a[a == self.ND] = self.ND + 1  # interior never nodata
        a[:4, :] = self.ND
        a[:, -5:] = self.ND
        gt = geotransform_3857(5.0, 45.0, 40, 40, 100.0)
        masked, _ = warp_3857_to_4326(a, gt, "nearest", src_nodata=self.ND,
                                      dst_nodata=self.DND)
        raw, _ = warp_3857_to_4326(a, gt, "nearest", fill=self.DND)
        validity = (a != self.ND).astype(np.uint8)
        wv, _ = warp_3857_to_4326(validity, gt, "nearest", fill=0)
        exp = np.where(wv == 1, raw, self.DND)
        assert (masked == exp).all()

    def test_unified_src_nodata_multiband(self):
        """UNIFIED_SRC_NODATA: a pixel is invalid only when ALL bands
        equal the nodata value (the gdalwarp utility default)."""
        from gdal_spark.oracle.warp import masked_float

        a = np.zeros((4, 4, 3), np.uint8)
        a[..., 0] = 50
        a[1, 1] = self.ND        # all three bands -> invalid
        a[2, 2, 0] = self.ND     # one band only -> still valid
        f = masked_float(a, self.ND)
        assert np.isnan(f[1, 1]).all()
        assert not np.isnan(f[2, 2]).any()

    def test_proj_warp_nodata(self):
        """The non-separable (UTM) warp honors masking in all kernel
        families."""
        from gdal_spark.oracle.warp import warp_utm_to_4326

        a = self._const_with_collar(n=40, c=5)
        gt = [500000.0 - 20 * 100.0, 100.0, 0.0,
              5000000.0 + 20 * 100.0, 0.0, -100.0]
        for m in ("nearest", "bilinear", "cubic", "average", "med"):
            out, _ = warp_utm_to_4326(a, gt, 31, m, src_nodata=self.ND,
                                      dst_nodata=self.DND)
            vals = set(np.unique(out))
            assert vals <= {100, self.DND}, (m, vals)

    def test_dst_nodata_defaults_to_src(self):
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        allbad = np.full((20, 20), self.ND, np.uint8)
        gt = geotransform_3857(5.0, 45.0, 20, 20, 100.0)
        out, _ = warp_3857_to_4326(allbad, gt, "nearest",
                                   src_nodata=self.ND)
        assert (out == self.ND).all()


class TestWarpCutline:
    """gdalwarp -cutline: the polygon rasterizes into the source validity
    mask (apps/gdalwarp_lib.cpp:5236) and composes with nodata."""

    def _diamond(self, gt, w, h, shrink=3.3):
        cx, cy = w / 2.0, h / 2.0
        R = min(w, h) / 2.0 - shrink
        return [[(gt[0] + px * gt[1], gt[3] + py * gt[5])
                 for px, py in ((cx, cy - R), (cx + R, cy), (cx, cy + R),
                                (cx - R, cy), (cx, cy - R))]], R

    def test_diamond_covered_count_closed_form(self):
        """The rasterized diamond interior pixel count matches the
        closed-form |dx|+|dy| <= R center test exactly."""
        from gdal_spark.oracle.rasterize import rasterize_rings

        for w, h in ((20, 20), (64, 64), (40, 24)):
            gt = [0.0, 1.0, 0.0, 0.0, 0.0, -1.0]
            rings, R = self._diamond(gt, w, h)
            # georef y = -py under this gt
            rings = [[(x, y) for x, y in rings[0]]]
            m = rasterize_rings(rings, gt, w, h, burn=1.0) > 0
            xs = np.arange(w)[None, :] + 0.5
            ys = np.arange(h)[:, None] + 0.5
            exp = (np.abs(xs - w / 2.0) + np.abs(ys - h / 2.0)) <= R
            assert (m == exp).all(), (w, h)
            assert int(m.sum()) == int(exp.sum()) > 0

    def test_cutline_masks_warp(self):
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        a = np.full((48, 48), 100, np.uint8)
        gt = geotransform_3857(5.0, 45.0, 48, 48, 100.0)
        rings, _ = self._diamond(gt, 48, 48)
        for m in ("nearest", "bilinear", "cubic", "average", "med"):
            out, _ = warp_3857_to_4326(a, gt, m, dst_nodata=201,
                                       cutline=rings)
            vals = set(np.unique(out))
            assert vals <= {100, 201}, (m, vals)
            assert 100 in vals and 201 in vals, m

    def test_cutline_composes_with_nodata(self):
        """Cutline AND nodata: pixels outside the cutline or equal to the
        nodata value are both excluded."""
        from gdal_spark.oracle.tiling import geotransform_3857
        from gdal_spark.oracle.warp import warp_3857_to_4326

        a = np.full((48, 48), 100, np.uint8)
        a[20:28, 20:28] = 7  # nodata hole inside the diamond
        gt = geotransform_3857(5.0, 45.0, 48, 48, 100.0)
        rings, _ = self._diamond(gt, 48, 48)
        out, _ = warp_3857_to_4326(a, gt, "bilinear", src_nodata=7,
                                   dst_nodata=201, cutline=rings)
        vals = set(np.unique(out))
        assert vals <= {100, 201}
        # the hole region maps to dst_nodata, not 7
        assert 7 not in vals


class TestRaggedKernelVectorization:
    """Round-4 hot-loop vectorization: ragged-factor box kernels and the
    marching-squares walk must stay bit-identical to the per-cell
    formulation and run native-res sizes in interactive time."""

    def test_ragged_stat_matches_per_cell_twin(self):
        from gdal_spark.oracle import resample as R

        rng = np.random.default_rng(11)
        a = rng.integers(0, 256, (123, 157, 3)).astype(np.uint8)
        oh, ow = 45, 53
        ylo, yhi = R._box_slices(oh, a.shape[0])
        xlo, xhi = R._box_slices(ow, a.shape[1])
        for stat in ("min", "max", "med", "q1", "q3", "sum", "rms"):
            got = R.resample_stat(a, oh, ow, stat)
            for r, c in ((0, 0), (17, 31), (44, 52)):
                b = a[ylo[r]:yhi[r], xlo[c]:xhi[c]]
                fl = b.reshape(-1, 3).T
                if stat == "min":
                    want = fl.min(-1)
                elif stat == "max":
                    want = fl.max(-1)
                elif stat == "sum":
                    want = np.clip(fl.astype(np.float64).sum(-1), 0, 255
                                   ).astype(np.uint8)
                elif stat == "rms":
                    want = np.clip(np.floor(np.sqrt(
                        (fl.astype(np.float64) ** 2).mean(-1)) + 0.5),
                        0, 255).astype(np.uint8)
                else:
                    q = {"med": .5, "q1": .25, "q3": .75}[stat]
                    qi = max(int(np.ceil(q * fl.shape[-1] - 1)), 0)
                    want = np.sort(fl, -1)[..., qi]
                np.testing.assert_array_equal(got[r, c], want, err_msg=stat)

    def test_ragged_mode_tie_breaks_smallest(self):
        from gdal_spark.oracle.resample import resample_mode

        a = np.array([[5, 9], [9, 5]], dtype=np.uint8)
        assert resample_mode(a, 1, 1)[0, 0] == 5  # tie -> smallest value

    def test_native_res_wall_clock(self):
        import time

        from gdal_spark.oracle.contour import contour_segments
        from gdal_spark.oracle.resample import resample_mode, resample_stat

        rng = np.random.default_rng(5)
        a = rng.integers(0, 256, (512, 512)).astype(np.uint8)
        t0 = time.perf_counter()
        contour_segments(a.astype(np.float64), (64.0, 128.0, 192.0))
        resample_mode(a, 197, 211)
        resample_stat(a, 197, 211, "med")
        # pre-vectorization these three took >10 s of interpreted per-cell
        # Python at 512^2; the case-mask/bincount kernels run in well
        # under a (very generous, CI-noise-proof) 5 s budget
        assert time.perf_counter() - t0 < 5.0
