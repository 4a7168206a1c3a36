"""Spatial join + kNN operators vs numpy oracles (and skew behavior)."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.fixtures.tile_grid import tile_grid_pdf
from gdal_spark.oracle import knn as KNN
from gdal_spark.oracle import mercator as M
from gdal_spark.oracle import pip as PIP


@pytest.fixture(scope="module")
def pts_pdf():
    rng = np.random.default_rng(11)
    n = 2000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-179.9, 179.9, n),
            "lat": rng.uniform(-84.9, 84.9, n),
        }
    )
    # hot cluster: 20% collapse near Paris (dense-cell skew)
    hot = pdf.index % 5 == 0
    pdf.loc[hot, "lon"] = 2.3 + rng.uniform(-0.05, 0.05, hot.sum())
    pdf.loc[hot, "lat"] = 48.8 + rng.uniform(-0.05, 0.05, hot.sum())
    return pdf


class TestSpatialJoin:
    @pytest.mark.parametrize("zoom", [2, 5])
    def test_points_tiles_matches_oracle(self, spark, pts_pdf, zoom):
        from gdal_spark.fixtures.tile_grid import tile_grid_df
        from gdal_spark.operators.spatial_join import spatial_join_points_tiles

        points = spark.createDataFrame(pts_pdf)
        grid = tile_grid_df(spark, zoom, zoom)
        got = (
            spatial_join_points_tiles(points, grid, zoom)
            .select("pid", "x", "y")
            .orderBy("pid")
            .toPandas()
        )
        tx, ty = M.lonlat_to_tile(
            pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy(), zoom
        )
        assert len(got) == len(pts_pdf)  # every point falls in exactly one tile
        np.testing.assert_array_equal(got["x"].to_numpy(), tx)
        np.testing.assert_array_equal(got["y"].to_numpy(), ty)

    def test_raycast_refine_agrees_with_cell_assign(self, spark, pts_pdf):
        """Exact ray-cast refine must keep every cell-assigned pair: the
        ceil-1 assignment convention puts boundary points in the tile where
        the ray cast also reports inside (left/bottom edges in, right/top
        out). Random points never sit exactly on boundaries, so sets match."""
        from gdal_spark.fixtures.tile_grid import tile_grid_df
        from gdal_spark.operators.spatial_join import spatial_join_points_tiles

        points = spark.createDataFrame(pts_pdf)
        grid = tile_grid_df(spark, 4, 4)
        a = (
            spatial_join_points_tiles(points, grid, 4, refine="none")
            .select("pid", "x", "y").orderBy("pid").toPandas()
        )
        b = (
            spatial_join_points_tiles(points, grid, 4, refine="raycast")
            .select("pid", "x", "y").orderBy("pid").toPandas()
        )
        pd.testing.assert_frame_equal(a, b)

    def test_polygon_join_with_covering_cells(self, spark, pts_pdf):
        """Non-cell-aligned polygons: candidates from bbox covering cells at a
        finer zoom + ray-cast refine == numpy oracle over all pairs."""
        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.operators.spatial_join import spatial_join_points_polygons

        boxes = []
        rng = np.random.default_rng(3)
        for i in range(12):
            cx, cy = rng.uniform(-1.5e7, 1.5e7, 2)
            hw, hh = rng.uniform(2e5, 3e6, 2)
            minx, maxx = cx - hw, cx + hw
            miny, maxy = cy - hh, cy + hh
            ring = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]
            boxes.append(
                dict(poly_id=i, minx=minx, miny=miny, maxx=maxx, maxy=maxy,
                     wkb=wkb_polygon(ring))
            )
        polys_pdf = pd.DataFrame(boxes)
        got = (
            spatial_join_points_polygons(
                spark.createDataFrame(pts_pdf),
                spark.createDataFrame(polys_pdf),
                zoom=5,
                broadcast_polys=True,
            )
            .select("pid", "poly_id")
            .toPandas()
            .sort_values(["pid", "poly_id"], ignore_index=True)
        )
        mx, my = M.lonlat_to_meters(pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy())
        exp = []
        for b in boxes:
            ring = PIP.box_ring(b["minx"], b["miny"], b["maxx"], b["maxy"])
            inside = PIP.point_in_ring(mx, my, ring)
            for pid in pts_pdf["pid"].to_numpy()[inside]:
                exp.append((pid, b["poly_id"]))
        exp = pd.DataFrame(exp, columns=["pid", "poly_id"]).sort_values(
            ["pid", "poly_id"], ignore_index=True
        )
        assert len(got) > 0
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    def test_salted_join_same_result(self, spark, pts_pdf):
        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.operators.spatial_join import spatial_join_points_polygons

        ring = [(-2e6, -2e6), (2e6, -2e6), (2e6, 2e6), (-2e6, 2e6), (-2e6, -2e6)]
        polys = spark.createDataFrame(
            pd.DataFrame(
                [dict(poly_id=0, minx=-2e6, miny=-2e6, maxx=2e6, maxy=2e6,
                      wkb=wkb_polygon(ring))]
            )
        )
        points = spark.createDataFrame(pts_pdf)
        plain = spatial_join_points_polygons(points, polys, 4).select("pid").toPandas()
        salted = spatial_join_points_polygons(points, polys, 4, salt=8).select("pid").toPandas()
        assert sorted(plain["pid"]) == sorted(salted["pid"])


class TestKNN:
    def test_knn_matches_brute_force(self, spark, pts_pdf):
        from gdal_spark.operators.knn import knn_join

        rng = np.random.default_rng(5)
        cand_pdf = pd.DataFrame(
            {
                "sid": np.arange(150, dtype=np.int64),
                "lon": rng.uniform(-179.9, 179.9, 150),
                "lat": rng.uniform(-84.9, 84.9, 150),
            }
        )
        queries = pts_pdf.head(300)
        got = (
            knn_join(
                spark.createDataFrame(queries),
                spark.createDataFrame(cand_pdf),
                k=3,
                zoom=4,
                broadcast_cap=None,  # exercise the cell-map join
            )
            .orderBy("pid", "rank")
            .toPandas()
        )
        qx, qy = M.lonlat_to_meters(queries["lon"].to_numpy(), queries["lat"].to_numpy())
        cx, cy = M.lonlat_to_meters(cand_pdf["lon"].to_numpy(), cand_pdf["lat"].to_numpy())
        idx, dist = KNN.brute_force_knn(qx, qy, cx, cy, k=3)
        assert len(got) == len(queries) * 3
        got_ids = got["sid"].to_numpy().reshape(len(queries), 3)
        exp_ids = cand_pdf["sid"].to_numpy()[idx]
        np.testing.assert_array_equal(got_ids, exp_ids)
        np.testing.assert_allclose(
            got["dist_m"].to_numpy().reshape(len(queries), 3), dist, rtol=1e-9
        )

    def test_knn_sparse_candidates_forces_expansion(self, spark):
        """Few candidates at high zoom -> the search radius spans many empty
        cells and still returns the exact nearest."""
        from gdal_spark.operators.knn import knn_join

        q = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 100.0], "lat": [0.0, -40.0]})
        c = pd.DataFrame(
            {"sid": [10, 11, 12], "lon": [30.0, -120.0, 95.0], "lat": [10.0, 50.0, -35.0]}
        )
        got = (
            knn_join(spark.createDataFrame(q), spark.createDataFrame(c), k=1, zoom=6,
                     broadcast_cap=None)  # force the cell-map join
            .orderBy("pid")
            .toPandas()
        )
        qx, qy = M.lonlat_to_meters(q["lon"].to_numpy(), q["lat"].to_numpy())
        cx, cy = M.lonlat_to_meters(c["lon"].to_numpy(), c["lat"].to_numpy())
        idx, _ = KNN.brute_force_knn(qx, qy, cx, cy, k=1)
        np.testing.assert_array_equal(
            got["sid"].to_numpy(), c["sid"].to_numpy()[idx[:, 0]]
        )


    @pytest.mark.parametrize("zoom", [6, 9, 16])
    def test_far_candidate_returns_all_k(self, spark, zoom):
        """One candidate is near both queries, the other is 120 degrees
        away: every query still gets both, at any zoom."""
        q = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 0.05], "lat": [0.0, 0.0]})
        c = pd.DataFrame({"sid": [10, 11], "lon": [120.0, 0.06], "lat": [0.0, 0.0]})
        got = _knn_cell_map(spark, q, c, k=2, zoom=zoom)
        _assert_brute_force(got, q, c, k=2)

    def test_antimeridian_neighbours_do_not_wrap(self, spark):
        """Distances are planar mercator meters, so a candidate just across
        the antimeridian is a world away and a farther-in-cells one on the
        same side is nearer."""
        q = pd.DataFrame({"pid": [0], "lon": [179.95], "lat": [0.0]})
        c = pd.DataFrame({"sid": [1, 2, 3], "lon": [-179.95, -179.9, 150.0],
                          "lat": [0.0, 0.0, 0.0]})
        got = _knn_cell_map(spark, q, c, k=2, zoom=6)
        _assert_brute_force(got, q, c, k=2)
        assert got["sid"].tolist() == [3, 2]

    def test_diagonal_neighbour_is_not_the_nearest(self, spark):
        """In cell units at zoom 8, the query sits at (0.01, 0.01) of its
        cell. The only candidate of the 3 x 3 block is at the far corner of
        the diagonal cell, 2.80 cells away; a candidate three cells to the
        left is 2.02 cells away and nearer, so the search must reach past
        radius 2 (to ceil(sqrt(2) * 2) = 3)."""
        cell = float(M.resolution(8)) * M.TILE_SIZE
        lon, lat = M.meters_to_lonlat(np.array([0.01, 1.99, -2.01]) * cell,
                                      np.array([0.01, 1.99, 0.01]) * cell)
        q = pd.DataFrame({"pid": [0], "lon": lon[:1], "lat": lat[:1]})
        c = pd.DataFrame({"sid": [1, 2], "lon": lon[1:], "lat": lat[1:]})
        got = _knn_cell_map(spark, q, c, k=1, zoom=8)
        _assert_brute_force(got, q, c, k=1)
        assert got["sid"].tolist() == [2]

    def test_fewer_candidates_than_k(self, spark):
        q = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 40.0], "lat": [0.0, 10.0]})
        c = pd.DataFrame({"sid": [1, 2], "lon": [-60.0, 100.0], "lat": [5.0, -5.0]})
        got = _knn_cell_map(spark, q, c, k=3, zoom=8)
        _assert_brute_force(got, q, c, k=3)

    def test_leaves_no_cached_data(self, spark):
        # points no other test uses: a frame cached by an earlier call on
        # the same local data would be reused and not counted again
        q = pd.DataFrame({"pid": [0, 1], "lon": [30.0, 30.05], "lat": [5.0, 5.0]})
        c = pd.DataFrame({"sid": [10, 11], "lon": [-90.0, 30.06], "lat": [5.0, 5.0]})
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        _knn_cell_map(spark, q, c, k=2, zoom=6)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

    def test_job_count_does_not_depend_on_data(self, spark, pts_pdf):
        """A fixed plan: the same number of Spark jobs for 2 x 2 points that
        need a wide search as for 300 x 150 points spread over the globe."""
        sc = spark.sparkContext
        rng = np.random.default_rng(5)
        small = (
            pd.DataFrame({"pid": [0, 1], "lon": [0.0, 0.05], "lat": [0.0, 0.0]}),
            pd.DataFrame({"sid": [10, 11], "lon": [120.0, 0.06], "lat": [0.0, 0.0]}),
        )
        large = (
            pts_pdf.head(300),
            pd.DataFrame({"sid": np.arange(150, dtype=np.int64),
                          "lon": rng.uniform(-179.9, 179.9, 150),
                          "lat": rng.uniform(-84.9, 84.9, 150)}),
        )
        jobs = []
        try:
            for i, (q, c) in enumerate((small, large)):
                group = f"knn-jobs-{i}"
                sc.setJobGroup(group, group)
                _knn_cell_map(spark, q, c, k=3, zoom=9)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs[0] == jobs[1], jobs


def _knn_cell_map(spark, q, c, k, zoom):
    from gdal_spark.operators.knn import knn_join

    return (
        knn_join(spark.createDataFrame(q), spark.createDataFrame(c), k=k,
                 zoom=zoom, broadcast_cap=None)
        .orderBy("pid", "rank")
        .toPandas()
    )


def _assert_brute_force(got, q, c, k):
    """``got`` (ordered by pid, rank) equals the brute-force kNN; candidate
    ids must ascend with their row so index ties match id ties."""
    qx, qy = M.lonlat_to_meters(q["lon"].to_numpy(), q["lat"].to_numpy())
    cx, cy = M.lonlat_to_meters(c["lon"].to_numpy(), c["lat"].to_numpy())
    idx, dist = KNN.brute_force_knn(qx, qy, cx, cy, k=k)
    kk = min(k, len(c))
    assert len(got) == len(q) * kk
    np.testing.assert_array_equal(
        got["sid"].to_numpy().reshape(len(q), kk), c["sid"].to_numpy()[idx])
    np.testing.assert_allclose(
        got["dist_m"].to_numpy().reshape(len(q), kk), dist, rtol=1e-9)


def _cells(rng, n, g, names):
    xy = pd.DataFrame({names[0]: rng.integers(0, g, n),
                       names[1]: rng.integers(0, g, n)}).drop_duplicates()
    return xy.reset_index(drop=True)


class TestCellMap:
    """The driver-side cell map of ``knn_join`` (numpy only, no Spark)."""

    def test_matches_dense_definition(self):
        """Each query cell lists exactly the candidate cells within
        ceil(sqrt(2) * (r + 1)) of it, r being the smallest Chebyshev
        radius whose block holds k candidates; every cell when fewer than
        k candidates exist."""
        from gdal_spark.operators.knn import _cell_map

        for seed in range(60):
            rng = np.random.default_rng(seed)
            g = [1, 3, 16, 1024][seed % 4]
            q = _cells(rng, int(rng.integers(1, 25)), g, ("_qtx", "_qty"))
            c = _cells(rng, int(rng.integers(1, 40)), g, ("_jtx", "_jty"))
            c["count"] = rng.integers(1, 4, len(c))
            k = int(rng.integers(1, 9))
            d = np.maximum(
                abs(q["_qtx"].to_numpy()[:, None] - c["_jtx"].to_numpy()),
                abs(q["_qty"].to_numpy()[:, None] - c["_jty"].to_numpy()))
            cnt = c["count"].to_numpy()
            if cnt.sum() >= k:
                r = np.array([min(v for v in row if cnt[row <= v].sum() >= k)
                              for row in d])
                reach = np.ceil(np.sqrt(2.0) * (r + 1))[:, None]
            else:
                reach = np.inf
            qi, ci = np.nonzero(d <= reach)
            want = set(zip(q["_qtx"].to_numpy()[qi], q["_qty"].to_numpy()[qi],
                           c["_jtx"].to_numpy()[ci], c["_jty"].to_numpy()[ci]))
            got = _cell_map(q, c, k)
            assert len(got) == len(want), seed
            assert set(map(tuple, got.to_numpy().tolist())) == want, seed

    def test_time_grows_with_cells_not_their_product(self):
        """About 40k x 40k non-empty cells: 1.6e9 cell pairs, which a dense
        distance matrix takes minutes over; the sorted-column search needs
        well under a second."""
        import time

        from gdal_spark.operators.knn import _cell_map

        rng = np.random.default_rng(3)
        q = _cells(rng, 60_000, 256, ("_qtx", "_qty"))
        c = _cells(rng, 60_000, 256, ("_jtx", "_jty"))
        c["count"] = rng.integers(1, 6, len(c))
        t0 = time.perf_counter()
        got = _cell_map(q, c, 8)
        assert time.perf_counter() - t0 < 20.0
        assert len(got) >= len(q)


class TestKNNBroadcastPath:
    def test_broadcast_fast_path_matches_ring(self, spark):
        """The dimension-table fast path (map-only Arrow kernel) returns
        EXACTLY the cell-map join's rows, ties included."""
        from gdal_spark.operators.knn import knn_join

        rng = np.random.default_rng(9)
        q = pd.DataFrame({
            "pid": np.arange(200, dtype=np.int64),
            "lon": rng.uniform(-179.0, 179.0, 200),
            "lat": rng.uniform(-84.0, 84.0, 200),
        })
        c = pd.DataFrame({
            "sid": np.arange(80, dtype=np.int64),
            "lon": rng.uniform(-179.0, 179.0, 80),
            "lat": rng.uniform(-84.0, 84.0, 80),
        })
        fast = knn_join(spark.createDataFrame(q), spark.createDataFrame(c),
                        k=3).orderBy("pid", "rank").toPandas()
        joined = knn_join(spark.createDataFrame(q), spark.createDataFrame(c),
                          k=3, broadcast_cap=None
                          ).orderBy("pid", "rank").toPandas()
        pd.testing.assert_frame_equal(
            fast.reset_index(drop=True), joined.reset_index(drop=True),
            check_dtype=False)

    def test_broadcast_plan_is_map_only(self, spark):
        from gdal_spark.operators.knn import knn_join

        q = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 10.0],
                          "lat": [0.0, 10.0]})
        c = pd.DataFrame({"sid": [5, 6], "lon": [1.0, 11.0],
                          "lat": [1.0, 9.0]})
        df = knn_join(spark.createDataFrame(q), spark.createDataFrame(c),
                      k=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # zero shuffles
