"""ST_* SQL functions, grid interpolation, rasterize/polygonize/sieve/
proximity kernels and operators."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.oracle import rasterize as RZ


class TestRasterizeKernels:
    def test_rasterize_square(self):
        gt = [0.0, 1.0, 0.0, 10.0, 0.0, -1.0]
        ring = [(2, 2), (8, 2), (8, 8), (2, 8), (2, 2)]
        out = RZ.rasterize_polygon(ring, gt, 10, 10)
        # pixel centers strictly inside [2,8]x[2,8]: cols/rows 2..7
        assert out.sum() == 36
        assert out[2:8, 2:8].all()  # rows 2..7 (y from 8 down to 2)

    def test_rasterize_rings_hole(self):
        """Even-odd across rings: the hole stays un-burned
        (GDALdllImageFilledPolygon combined crossing list)."""
        gt = [0.0, 1.0, 0.0, 10.0, 0.0, -1.0]
        outer = [(1, 1), (9, 1), (9, 9), (1, 9), (1, 1)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
        out = RZ.rasterize_rings([outer, hole], gt, 10, 10)
        assert out[2, 2] == 1
        assert out[5, 5] == 0  # inside the hole
        assert out.sum() == 64 - 4

    def test_rasterize_all_touched_diagonal(self):
        """ALL_TOUCHED burns every cell a thin triangle's boundary passes
        through — strictly more than the center-inside fill."""
        gt = [0.0, 1.0, 0.0, 10.0, 0.0, -1.0]
        # thin diagonal sliver: almost no pixel centers inside, but the
        # boundary passes through every diagonal cell
        tri = [(0.2, 9.8), (9.8, 0.2), (9.6, 0.2), (0.2, 9.6), (0.2, 9.8)]
        plain = RZ.rasterize_rings([tri], gt, 10, 10)
        at = RZ.rasterize_rings([tri], gt, 10, 10, all_touched=True)
        assert at.sum() > plain.sum()
        # every diagonal cell is touched
        for i in range(10):
            assert at[i, i] == 1, i
        assert plain[0, 9] == 0 and plain[9, 0] == 0

    def test_rasterize_burn_value_from_z(self):
        """BURN_VALUE_FROM=Z: span value = Z interpolated at the left
        crossing (llrasterize.cpp dfVariant).  A rect whose left edge runs
        z=0..8 burns each row with its left-edge z."""
        gt = [0.0, 1.0, 0.0, 8.0, 0.0, -1.0]
        # counter-clockwise in world y (top-left start), z varies along
        # the left edge only
        ring = [(1.0, 8.0), (1.0, 0.0), (7.0, 0.0), (7.0, 8.0), (1.0, 8.0)]
        zs = [8.0, 0.0, 0.0, 8.0, 8.0]
        out = RZ.rasterize_rings([ring], gt, 8, 8, rings_z=[zs])
        for r in range(8):
            yc_world = 8.0 - (r + 0.5)
            # left crossing lies on the (1,8,z=8)->(1,0,z=0) edge
            exp = yc_world
            got = out[r, 2]
            assert got == pytest.approx(exp), (r, got, exp)

    def test_rasterize_add_vs_replace(self):
        gt = [0.0, 1.0, 0.0, 6.0, 0.0, -1.0]
        a = [(0.6, 5.4), (4.4, 5.4), (4.4, 1.6), (0.6, 1.6), (0.6, 5.4)]
        b = [(1.6, 4.4), (5.4, 4.4), (5.4, 0.6), (1.6, 0.6), (1.6, 4.4)]
        # pixel (row 3, col 2) center = world (2.5, 2.5), inside both
        out = np.zeros((6, 6))
        RZ.rasterize_rings([a], gt, 6, 6, burn=2.0, out=out, add=True)
        RZ.rasterize_rings([b], gt, 6, 6, burn=3.0, out=out, add=True)
        assert out[3, 2] == 5.0  # overlap accumulates
        out2 = np.zeros((6, 6))
        RZ.rasterize_rings([a], gt, 6, 6, burn=2.0, out=out2)
        RZ.rasterize_rings([b], gt, 6, 6, burn=3.0, out=out2)
        assert out2[3, 2] == 3.0  # later feature replaces

    def test_rasterize_points_add(self):
        gt = [0.0, 1.0, 0.0, 4.0, 0.0, -1.0]
        out = RZ.rasterize_points([0.5, 0.7, 3.2], [3.5, 3.5, 0.5], gt, 4, 4)
        assert out[0, 0] == 2  # two points in the top-left pixel
        assert out[3, 3] == 1
        assert out.sum() == 3

    def test_label_components(self):
        a = np.array(
            [[1, 1, 2], [1, 2, 2], [3, 3, 2]], dtype=np.uint8
        )
        labels, n = RZ.label_components(a)
        assert n == 3
        assert labels[0, 0] == labels[1, 0] == labels[0, 1]
        assert labels[0, 2] == labels[1, 1] == labels[2, 2]
        assert labels[2, 0] == labels[2, 1]

    def test_label_snake(self):
        # serpentine component exercises propagation convergence
        a = np.zeros((5, 5), dtype=np.uint8)
        a[0, :] = 1
        a[1, 4] = 1
        a[2, :] = 1
        a[3, 0] = 1
        a[4, :] = 1
        labels, n = RZ.label_components(a)
        assert n == 3  # the snake + two background gaps
        snake = labels[a == 1]
        assert (snake == snake[0]).all()

    def test_label_components_8conn(self):
        # checkerboard: 4-conn -> every pixel its own component;
        # 8-conn -> the two diagonal color classes (8CONNECTED=8,
        # alg/polygonize.cpp:87)
        a = np.indices((4, 4)).sum(axis=0) % 2
        _, n4 = RZ.label_components(a.astype(np.uint8), 4)
        assert n4 == 16
        labels, n8 = RZ.label_components(a.astype(np.uint8), 8)
        assert n8 == 2
        assert labels[0, 0] == labels[2, 2] != labels[0, 1] == labels[3, 0]
        # plus-shape: same components either way
        b = np.zeros((3, 3), dtype=np.uint8)
        b[1, :] = 1
        b[:, 1] = 1
        # plus + 4 isolated corner pixels (corners are not 8-adjacent
        # to each other) -> 5 components under both connectivities
        assert RZ.label_components(b, 4)[1] == RZ.label_components(b, 8)[1] == 5

    def test_trace_rings_8conn_pinch(self):
        # two diagonal squares: 4-conn traces two rings; 8-conn one
        # self-touching ring of area 2 through the pinch corner
        m = np.zeros((2, 2), dtype=bool)
        m[0, 0] = m[1, 1] = True
        r4 = RZ.trace_rings(m, 4)
        assert len(r4) == 2
        r8 = RZ.trace_rings(m, 8)
        assert len(r8) == 1
        ring = r8[0]
        area = 0.5 * abs(np.dot(ring[:-1, 0], ring[1:, 1])
                         - np.dot(ring[1:, 0], ring[:-1, 1]))
        assert area == pytest.approx(2.0)

    def test_polygonize_rings_8conn(self):
        m = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1]], dtype=np.uint8)
        rows4 = RZ.polygonize_rings(m, 4)
        rows8 = RZ.polygonize_rings(m, 8)
        # 4-conn: 3 one-px "1" comps + 2 zero comps; 8-conn: 1 diag "1"
        # comp + 2 zero comps (background stays 4-connected across the
        # foreground diagonal only if itself 8-adjacent: here the two 0
        # regions are diagonal to each other too, so they merge as well)
        assert len(rows4) == 5
        vals8 = sorted((v, c) for v, c, _, _ in rows8)
        assert (1.0, 3) in vals8

    def test_sieve_8conn_keeps_diagonal_chain(self):
        # diagonal 3-chain: below threshold under 4-conn (each px is a
        # 1-px component -> merged away), kept under 8-conn (one 3-px
        # component >= threshold)
        a = np.zeros((5, 5), dtype=np.uint8)
        a[1, 1] = a[2, 2] = a[3, 3] = 9
        out4 = RZ.sieve(a, threshold=2, connectivity=4)
        assert (out4 == 0).all()
        out8 = RZ.sieve(a, threshold=2, connectivity=8)
        assert (out8[1, 1], out8[2, 2], out8[3, 3]) == (9, 9, 9)

    def test_polygonize_rows(self):
        a = np.array([[5, 5, 7], [5, 7, 7]], dtype=np.uint8)
        rows = RZ.polygonize(a)
        assert len(rows) == 2
        vals = {r[0]: r for r in rows}
        assert vals[5.0][1] == 3  # count
        assert vals[7.0][1] == 3
        assert vals[5.0][2:] == (0, 0, 1, 1)  # bbox of the 5-component

    def test_sieve_removes_small(self):
        a = np.zeros((6, 6), dtype=np.uint8)
        a[2, 2] = 9  # single-pixel island
        out = RZ.sieve(a, threshold=2)
        assert (out == 0).all()

    def test_proximity_exact(self):
        m = np.zeros((7, 9), dtype=bool)
        m[3, 4] = True
        d = RZ.proximity(m)
        assert d[3, 4] == 0
        assert d[3, 5] == 1
        assert d[2, 3] == pytest.approx(np.sqrt(2))
        # chamfer (1, sqrt2) distance for (2, 1) offset = sqrt2 + 1
        assert d[1, 3] == pytest.approx(np.sqrt(2) + 1)


class TestSTFunctions:
    @pytest.fixture(scope="class", autouse=True)
    def register(self, spark):
        from gdal_spark.sql.ogr_compat import register_st_functions

        register_st_functions(spark)

    @pytest.fixture(scope="class")
    def geoms(self, spark):
        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.sql.ogr_compat import wkb_point

        pdf = pd.DataFrame(
            {
                "gid": [1, 2, 3],
                "g": [
                    wkb_polygon([(0, 0), (10, 0), (10, 6), (0, 6), (0, 0)]),
                    wkb_point(5.0, 3.0),
                    wkb_point(20.0, 20.0),
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        df.createOrReplaceTempView("geoms")
        return pdf

    def test_area_astext(self, spark, geoms):
        got = spark.sql(
            "SELECT gid, ST_Area(g) AS a, ST_AsText(g) AS t FROM geoms ORDER BY gid"
        ).collect()
        assert got[0]["a"] == 60.0
        assert got[0]["t"].startswith("POLYGON ((0 0, 10 0")
        assert got[1]["t"] == "POINT (5 3)"

    def test_predicates(self, spark, geoms):
        got = spark.sql(
            """
            SELECT a.gid, b.gid AS bid,
                   ST_Intersects(a.g, b.g) AS i,
                   ST_Within(b.g, a.g) AS w,
                   ST_Contains(a.g, b.g) AS c
            FROM geoms a JOIN geoms b ON a.gid = 1 AND b.gid IN (2, 3)
            ORDER BY bid
            """
        ).collect()
        assert (got[0]["i"], got[0]["w"], got[0]["c"]) == (True, True, True)
        assert (got[1]["i"], got[1]["w"], got[1]["c"]) == (False, False, False)

    def test_distance_centroid_buffer(self, spark, geoms):
        # NOTE: scalar-subquery arguments to pandas UDFs misbehave in Spark
        # (both args collapse to one value) — use column references, the
        # realistic call shape.
        got = spark.sql(
            """
            SELECT ST_Distance(a.g, b.g) AS d,
                   ST_X(ST_Centroid(p.g)) AS cx,
                   ST_Area(ST_Buffer(p.g, 1.0)) AS ba
            FROM geoms a, geoms b, geoms p
            WHERE a.gid = 2 AND b.gid = 3 AND p.gid = 1
            """
        ).collect()[0]
        assert got["d"] == pytest.approx(np.hypot(15, 17))
        assert got["cx"] == pytest.approx(5.0)
        # round buffer (Minkowski sum with a 32-gon disc): area + perimeter*d
        # + inscribed-circle corners = 60 + 32 + 16*sin(pi/16)
        assert got["ba"] == pytest.approx(60 + 32 + 16 * np.sin(np.pi / 16))

    def test_wkt_roundtrip(self, spark, geoms):
        got = spark.sql(
            "SELECT ST_AsText(ST_GeomFromText('POINT (1.5 -2.25)')) AS t"
        ).collect()[0]["t"]
        assert got == "POINT (1.5 -2.25)"


class TestSTFunctionsRound2:
    """The ST_* surface added in round 2 (ogrsqlitesqlfunctions.cpp parity):
    Length/Perimeter, the 8 OGC predicates, validity, WKB round-trip,
    convex overlay scalars, hull/simplify, geodesic measures."""

    @pytest.fixture(scope="class", autouse=True)
    def register(self, spark):
        from gdal_spark.sql.ogr_compat import register_st_functions

        register_st_functions(spark)

    @pytest.fixture(scope="class")
    def layers(self, spark):
        rows = [
            # two overlapping squares, one touching, one disjoint, one equal
            (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
            (2, "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"),   # overlaps 1
            (3, "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"),  # touches 1
            (4, "POLYGON ((30 30, 40 30, 40 40, 30 40, 30 30))"),  # disjoint
            (5, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),   # equals 1
            (6, "LINESTRING (-5 5, 25 5)"),                    # crosses 1
            (7, "LINESTRING (1 1, 9 1)"),                      # within 1
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["gid", "wkt"]))
        df.selectExpr("gid", "ST_GeomFromText(wkt) AS g").createOrReplaceTempView(
            "geoms2"
        )
        return rows

    def test_predicates_matrix(self, spark, layers):
        got = spark.sql(
            """
            SELECT b.gid,
                   ST_Intersects(a.g, b.g) AS inter,
                   ST_Disjoint(a.g, b.g) AS disj,
                   ST_Touches(a.g, b.g) AS tch,
                   ST_Overlaps(a.g, b.g) AS ovl,
                   ST_Equals(a.g, b.g) AS eq,
                   ST_Crosses(b.g, a.g) AS crs,
                   ST_Within(b.g, a.g) AS wth
            FROM geoms2 a JOIN geoms2 b ON a.gid = 1
            ORDER BY b.gid
            """
        ).toPandas().set_index("gid")
        assert got.loc[2, ["inter", "ovl"]].tolist() == [True, True]
        assert not got.loc[2, "tch"] and not got.loc[2, "eq"]
        assert got.loc[3, ["inter", "tch"]].tolist() == [True, True]
        assert not got.loc[3, "ovl"]
        assert got.loc[4, "disj"] and not got.loc[4, "inter"]
        assert got.loc[5, "eq"] and not got.loc[5, "ovl"]
        assert got.loc[6, "crs"] and not got.loc[6, "wth"]
        assert got.loc[7, "wth"] and not got.loc[7, "crs"]

    def test_length_and_overlay_areas(self, spark, layers):
        got = spark.sql(
            """
            SELECT ST_Length(l.g) AS llen,
                   ST_Perimeter(a.g) AS perim,
                   ST_Area(ST_Intersection(a.g, b.g)) AS ia,
                   ST_Area(ST_Difference(a.g, b.g)) AS da,
                   ST_Area(ST_SymDifference(a.g, b.g)) AS sda,
                   ST_Area(ST_Union(a.g, b.g)) AS ua
            FROM geoms2 a, geoms2 b, geoms2 l
            WHERE a.gid = 1 AND b.gid = 2 AND l.gid = 6
            """
        ).collect()[0]
        assert got["llen"] == 30.0
        assert got["perim"] == 40.0
        assert got["ia"] == pytest.approx(25.0)
        assert got["da"] == pytest.approx(75.0)
        assert got["sda"] == pytest.approx(150.0)
        assert got["ua"] == pytest.approx(175.0)

    def test_validity_wkb_roundtrip(self, spark, layers):
        got = spark.sql(
            """
            SELECT ST_IsValid(ST_GeomFromText(
                       'POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))')) AS bowtie,
                   ST_IsValid(a.g) AS sq_ok,
                   ST_IsSimple(l.g) AS line_simple,
                   ST_IsEmpty(a.g) AS empt,
                   ST_NPoints(a.g) AS np,
                   ST_Equals(ST_GeomFromWKB(ST_AsBinary(a.g)), a.g) AS rt,
                   ST_GeometryType(a.g) AS gt
            FROM geoms2 a, geoms2 l WHERE a.gid = 1 AND l.gid = 6
            """
        ).collect()[0]
        assert not got["bowtie"] and got["sq_ok"]
        assert got["line_simple"] and not got["empt"]
        assert got["np"] == 5 and got["rt"] and got["gt"] == "POLYGON"

    def test_hull_simplify_makevalid(self, spark, layers):
        got = spark.sql(
            """
            SELECT ST_Area(ST_ConvexHull(ST_GeomFromText(
                       'MULTIPOINT (0 0, 4 0, 4 4, 0 4, 2 2)'))) AS hull_a,
                   ST_NPoints(ST_Simplify(ST_GeomFromText(
                       'LINESTRING (0 0, 1 0.01, 2 0, 3 1, 4 0)'), 0.1)) AS sn,
                   ST_IsValid(ST_MakeValid(ST_GeomFromText(
                       'POLYGON ((0 0, 4 0, 4 4, 0 4))'))) AS fixed
            """
        ).collect()[0]
        assert got["hull_a"] == pytest.approx(16.0)
        assert got["sn"] == 4  # the 0.01 wiggle dropped, the 1.0 peak kept
        assert got["fixed"]  # open ring closed by MakeValid

    def test_nonconvex_overlay_sql(self, spark):
        """ST_Intersection handles concave polygons and holes (round-2
        decomposition path): donut ∩ square = square area minus hole."""
        got = spark.sql(
            """
            SELECT ST_Area(ST_Intersection(
                     ST_GeomFromText('POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0),
                                               (4 4, 4 8, 8 8, 8 4, 4 4))'),
                     ST_GeomFromText('POLYGON ((2 2, 10 2, 10 10, 2 10, 2 2))')
                   )) AS donut_sq,
                   ST_Area(ST_Intersection(
                     ST_GeomFromText('POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10,
                                                0 10, 0 0))'),
                     ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')
                   )) AS l_in_sq,
                   ST_Area(ST_Difference(
                     ST_GeomFromText('POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10,
                                                0 10, 0 0))'),
                     ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')
                   )) AS l_minus_corner
            """
        ).collect()[0]
        assert got["donut_sq"] == pytest.approx(64 - 16)
        assert got["l_in_sq"] == pytest.approx(64.0)
        assert got["l_minus_corner"] == pytest.approx(64 - 16)

    def test_geodesic(self, spark):
        got = spark.sql(
            """
            SELECT ST_GeodesicArea(ST_GeomFromText(
                       'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) AS ga,
                   ST_GeodesicLength(ST_GeomFromText(
                       'LINESTRING (0 0, 1 0)')) AS gl
            """
        ).collect()[0]
        # 1x1 degree cell at the equator: ~111.19 km sides (sphere)
        assert 1.22e10 < got["ga"] < 1.25e10
        assert got["gl"] == pytest.approx(111194.9, rel=1e-3)

    def test_point_fastpath_and_accessors(self, spark):
        # many repeated + distinct points: exercises the frombuffer fast path
        pdf = pd.DataFrame({"x": np.arange(500) % 50 * 1.5,
                            "y": np.arange(500) % 50 * -0.5})
        spark.createDataFrame(pdf).selectExpr(
            "ST_MakePoint(x, y) AS p", "x", "y"
        ).createOrReplaceTempView("pts_fast")
        got = spark.sql(
            "SELECT MAX(ABS(ST_X(p) - x)) AS dx, MAX(ABS(ST_Y(p) - y)) AS dy,"
            "       MAX(ST_Distance(p, ST_MakePoint(x, y))) AS dd "
            "FROM pts_fast"
        ).collect()[0]
        assert got["dx"] == 0.0 and got["dy"] == 0.0 and got["dd"] == 0.0


class TestDelaunayTIN:
    def test_delaunay_properties(self):
        """Euler count (T = 2n - h - 2) + empty-circumcircle on random
        points — the defining Delaunay invariants."""
        from gdal_spark.oracle.delaunay import triangulate
        from gdal_spark.oracle.geom import convex_hull

        rng = np.random.default_rng(1)
        pts = rng.uniform(0, 100, (200, 2))
        tris = triangulate(pts)
        h = convex_hull(pts).shape[0] - 1
        assert len(tris) == 2 * 200 - h - 2
        a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
        d = 2 * (a[:, 0] * (b[:, 1] - c[:, 1]) + b[:, 0] * (c[:, 1] - a[:, 1])
                 + c[:, 0] * (a[:, 1] - b[:, 1]))
        a2, b2, c2 = (a**2).sum(1), (b**2).sum(1), (c**2).sum(1)
        ux = (a2 * (b[:, 1] - c[:, 1]) + b2 * (c[:, 1] - a[:, 1])
              + c2 * (a[:, 1] - b[:, 1])) / d
        uy = (a2 * (c[:, 0] - b[:, 0]) + b2 * (a[:, 0] - c[:, 0])
              + c2 * (b[:, 0] - a[:, 0])) / d
        r2 = (ux - a[:, 0]) ** 2 + (uy - a[:, 1]) ** 2
        dist2 = ((pts[:, 0][None, :] - ux[:, None]) ** 2
                 + (pts[:, 1][None, :] - uy[:, None]) ** 2)
        assert not (dist2 < r2[:, None] * (1 - 1e-9)).any()

    def test_tin_linear_precision(self):
        """Barycentric TIN interpolation reproduces any plane exactly —
        the defining property of gdalgrid 'linear'."""
        from gdal_spark.oracle.delaunay import tin_interpolate

        rng = np.random.default_rng(2)
        pts = rng.uniform(0, 100, (150, 2))
        vals = 3.0 + 0.5 * pts[:, 0] - 0.25 * pts[:, 1]
        qx = rng.uniform(20, 80, 300)
        qy = rng.uniform(20, 80, 300)
        out, inside = tin_interpolate(pts, vals, qx, qy)
        assert inside.mean() > 0.98  # a few may fall outside the hull
        exp = 3.0 + 0.5 * qx - 0.25 * qy
        np.testing.assert_allclose(out[inside], exp[inside], rtol=1e-9)
        out2, in2 = tin_interpolate(
            pts, vals, np.array([1e4]), np.array([1e4])
        )
        assert not in2[0] and np.isnan(out2[0])

    def test_grid_linear_operator(self, spark):
        """Spark grid_linear on plane-valued points = the plane at every
        interior pixel center."""
        from gdal_spark.operators.gridding import grid_linear

        rng = np.random.default_rng(3)
        pdf = pd.DataFrame({
            "x": rng.uniform(0, 100, 400),
            "y": rng.uniform(0, 100, 400),
        })
        pdf["v"] = 1.0 + 0.1 * pdf.x + 0.2 * pdf.y
        got = grid_linear(
            spark.createDataFrame(pdf), minx=0.0, miny=0.0, cell=10.0,
            nx=10, ny=10,
        ).toPandas()
        assert len(got) >= 80  # most pixels inside the hull
        for r in got.itertuples(index=False):
            cx = 0.0 + (r.px + 0.5) * 10.0
            cy = 100.0 - (r.py + 0.5) * 10.0
            assert r.value == pytest.approx(1.0 + 0.1 * cx + 0.2 * cy,
                                            abs=1e-5)


class TestGridding:
    @pytest.fixture(scope="class")
    def pts(self, spark):
        rng = np.random.default_rng(9)
        pdf = pd.DataFrame(
            {
                "x": rng.uniform(0, 100, 300),
                "y": rng.uniform(0, 100, 300),
                "v": rng.uniform(0, 10, 300),
            }
        )
        return spark.createDataFrame(pdf), pdf

    @pytest.mark.parametrize("alg", ["invdist", "average", "nearest", "count"])
    def test_matches_numpy(self, spark, pts, alg):
        from gdal_spark.operators.gridding import grid_interpolate

        df, pdf = pts
        nx = ny = 10
        cellsz = 10.0
        radius = 15.0
        got = (
            grid_interpolate(df, 0.0, 0.0, cellsz, nx, ny, radius, alg)
            .toPandas()
            .set_index(["px", "py"])
            .sort_index()
        )
        xs, ys, vs = pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf["v"].to_numpy()
        for px in range(nx):
            for py in range(ny):
                cx = (px + 0.5) * cellsz
                cy = 100.0 - (py + 0.5) * cellsz
                d2 = (xs - cx) ** 2 + (ys - cy) ** 2
                m = d2 <= radius * radius
                if not m.any():
                    assert (px, py) not in got.index
                    continue
                if alg == "invdist":
                    w = 1.0 / d2[m]
                    exp = (w * vs[m]).sum() / w.sum()
                elif alg == "average":
                    exp = vs[m].mean()
                elif alg == "nearest":
                    exp = vs[m][np.argmin(d2[m])]
                else:
                    exp = m.sum()
                assert got.loc[(px, py), "value"] == pytest.approx(exp, abs=2e-6), (
                    alg, px, py
                )
                assert got.loc[(px, py), "n"] == m.sum()


class TestVectorizeOperators:
    def test_polygonize_operator(self, spark):
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.vectorize import polygonize

        pdf = generate_images_pdf(3)
        imgs = spark.createDataFrame(pdf)
        got = polygonize(imgs, quantize=64, downsample_to=32).toPandas()
        # components partition the (possibly downsampled) raster exactly
        sums = got.groupby("image_id")["pixel_count"].sum()
        for r in pdf.itertuples(index=False):
            exp = min(r.w, 32) * min(r.h, 32)
            assert sums[r.image_id] == exp
        assert (got["value"] < 4).all()

    def test_proximity_operator(self, spark):
        from gdal_spark.codecs.registry import decode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.vectorize import proximity_map
        from gdal_spark.oracle.resample import resample_nearest

        pdf = generate_images_pdf(3)
        got = proximity_map(spark.createDataFrame(pdf), target_value=0,
                            downsample_to=32).toPandas()
        # -1 = documented sentinel for "no target pixel in this image"
        assert (got["dmax"] >= -1).all()
        assert (got["dmax"] >= 0).any()
        got = got.set_index("image_id")
        for r in pdf.itertuples(index=False):
            mask = resample_nearest(decode(r.bytes)[:, :, 0], 32, 32) == 0
            d = RZ.proximity(mask) if mask.any() else np.full(1, -1.0)
            assert got.loc[r.image_id, "dmax"] == float(np.round(d.max(), 4))
            assert got.loc[r.image_id, "dmean"] == float(np.round(d.mean(), 4))

    def test_sieve_operator(self, spark):
        """Per image: component counts before and after, and the checksum
        of the sieved band, equal the oracle kernels on the decimated,
        quantized band 1."""
        from gdal_spark.codecs.registry import decode
        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.operators.vectorize import sieve_filter
        from gdal_spark.oracle.checksum import checksum_image
        from gdal_spark.oracle.resample import resample_nearest

        pdf = generate_images_pdf(3)
        got = sieve_filter(spark.createDataFrame(pdf), threshold=3,
                           downsample_to=24).toPandas().set_index("image_id")
        for r in pdf.itertuples(index=False):
            band = decode(r.bytes)[:, :, 0]
            q = (resample_nearest(band, 24, 24) // 64).astype(np.uint8)
            s = RZ.sieve(q, 3)
            assert got.loc[r.image_id, "n_before"] == RZ.label_components(q)[1]
            assert got.loc[r.image_id, "n_after"] == RZ.label_components(s)[1]
            assert got.loc[r.image_id, "cs"] == checksum_image(s)[0]

    def test_rasterize_layer_out_of_extent_feature(self, spark):
        """Features whose bbox misses the raster extent are dropped before
        the tile explode (sequence(start, stop) with start > stop would
        otherwise emit a descending run of invalid tile indices and crash
        burn_tile with a negative width)."""
        from gdal_spark.operators.vectorize import rasterize_layer
        from gdal_spark.oracle.geom import to_wkb

        inside = [(0.5, 0.5), (2.5, 0.5), (2.5, 2.5), (0.5, 2.5),
                  (0.5, 0.5)]
        far_right = [(100.0, 0.5), (102.0, 0.5), (102.0, 2.5),
                     (100.0, 2.5), (100.0, 0.5)]
        far_below = [(0.5, -100.0), (2.5, -100.0), (2.5, -98.0),
                     (0.5, -98.0), (0.5, -100.0)]
        pdf = pd.DataFrame({
            "fid": [1, 2, 3],
            "wkb": [to_wkb("polygon", [r])
                    for r in (inside, far_right, far_below)],
        })
        got = rasterize_layer(
            spark.createDataFrame(pdf), minx=0.0, maxy=4.0, cell=1.0,
            nx=4, ny=4, burn=1.0,
        ).toPandas()
        # only the in-extent square burns; nothing out of range
        assert len(got) > 0
        assert got["px"].between(0, 2).all() and got["py"].between(1, 3).all()

    def test_rasterize_point_counts(self, spark):
        from gdal_spark.operators.vectorize import rasterize_point_counts

        pdf = pd.DataFrame({"x": [0.5, 0.7, 3.2], "y": [3.5, 3.5, 0.5]})
        got = (
            rasterize_point_counts(
                spark.createDataFrame(pdf), 0.0, 4.0, 1.0, 4, 4
            )
            .toPandas()
            .set_index(["px", "py"])
        )
        assert got.loc[(0, 0), "n"] == 2
        assert got.loc[(3, 3), "n"] == 1


class TestPolygonizeRings:
    def test_ring_kernels(self):
        import numpy as np

        from gdal_spark.oracle.rasterize import polygonize_rings, trace_rings

        def area(r):
            return 0.5 * abs(np.dot(r[:-1, 0], r[1:, 1]) - np.dot(r[1:, 0], r[:-1, 1]))

        m = np.zeros((7, 7), dtype=bool)
        m[1:6, 1:6] = True
        m[3, 3] = False  # donut
        rings = trace_rings(m)
        assert sorted(round(area(r)) for r in rings) == [1, 25]
        rows = polygonize_rings(np.array([[5, 5, 7], [5, 7, 7]], dtype=np.uint8))
        for val, cnt, outer, holes in rows:
            assert area(outer) == cnt  # solid components: ring area == pixels
            assert holes == 0

    def test_operator_emit_rings(self, spark):
        import numpy as np

        from gdal_spark.fixtures.images import generate_images_pdf
        from gdal_spark.fixtures.tile_grid import parse_wkb_polygon
        from gdal_spark.operators.vectorize import polygonize

        imgs = spark.createDataFrame(generate_images_pdf(2))
        got = polygonize(imgs, quantize=64, downsample_to=24, emit_rings=True).toPandas()
        assert {"wkb", "n_holes"} <= set(got.columns)
        for r in got.itertuples(index=False):
            ring = parse_wkb_polygon(bytes(r.wkb))
            assert np.array_equal(ring[0], ring[-1])  # closed
            a = 0.5 * abs(
                np.dot(ring[:-1, 0], ring[1:, 1]) - np.dot(ring[1:, 0], ring[:-1, 1])
            )
            assert a >= r.pixel_count - 1e-9 if r.n_holes else a == r.pixel_count


class TestRasterizeInverse:
    def test_inverse_complement_and_overlap_parity(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.operators.vectorize import rasterize_layer

        sq = lambda x0, y0, x1, y1: np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
        # raster: 40x30 px, cell 1, origin (0, 30); two overlapping squares
        polys = spark.createDataFrame(pd.DataFrame({
            "fid": [1, 2],
            "wkb": [bytes(wkb_polygon(sq(5, 5, 20, 20))),
                    bytes(wkb_polygon(sq(15, 10, 30, 25)))],
        }))
        kw = dict(minx=0.0, maxy=30.0, cell=1.0, nx=40, ny=30, tile_px=16)
        normal = rasterize_layer(polys, **kw).toPandas()
        inv = rasterize_layer(polys, inverse=True, **kw).toPandas()

        grid_n = np.zeros((30, 40)); grid_i = np.zeros((30, 40))
        grid_n[normal["py"], normal["px"]] = 1
        grid_i[inv["py"], inv["px"]] = 1
        # overlap pixels (covered by BOTH polygons) carry the even-odd
        # inverse quirk: extent parity 1 + 2 crossings = odd -> burned in
        # the inverse too (apps/gdal_rasterize_lib.cpp InvertGeometries)
        overlap = np.zeros((30, 40), dtype=bool)
        overlap[np.ix_(range(30 - 20, 30 - 10), range(15, 20))] = True
        both = (grid_n == 1) & (grid_i == 1)
        assert (both == overlap).all()
        # outside both polygons: inverse only; inside exactly one: normal only
        assert ((grid_n + grid_i) >= 1).all()
        # empty tiles burn fully in inverse mode
        assert grid_i[0, 35:].all()

    def test_inverse_rejects_attribute(self, spark):
        import pandas as pd
        import pytest as _pytest

        from gdal_spark.operators.vectorize import rasterize_layer

        polys = spark.createDataFrame(pd.DataFrame({"fid": [1], "wkb": [b""],
                                                    "a": [2.0]}))
        with _pytest.raises(ValueError):
            rasterize_layer(polys, 0, 10, 1.0, 10, 10, attribute="a",
                            inverse=True)


class TestProximityOptions:
    def test_maxdist_fixedbuf_geo(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.codecs.registry import encode
        from gdal_spark.operators.vectorize import proximity_map

        # one target pixel at the center of a 17x17 raster
        px = np.full((17, 17, 3), 9, dtype=np.uint8)
        px[8, 8] = 0
        df = spark.createDataFrame(pd.DataFrame(
            [{"image_id": "p0", "bytes": encode(px, "png")}]))
        kw = dict(target_value=0, downsample_to=None, round_to=None)
        base = proximity_map(df, **kw).collect()[0]
        # -maxdist: beyond 3 px -> nodata (-1); max of kept values <= 3
        md = proximity_map(df, max_distance=3.0, **kw).collect()[0]
        assert md["dmax"] <= 3.0
        # FIXED_BUF_VAL: within threshold -> constant 7, beyond -> -1
        fb = proximity_map(df, max_distance=3.0, fixed_buf_val=7.0,
                           **kw).collect()[0]
        assert fb["dmax"] == 7.0
        # DISTUNITS=GEO: distances scale with the cell size
        geo = proximity_map(df, cell_size=30.0, **kw).collect()[0]
        assert geo["dmax"] == pytest.approx(base["dmax"] * 30.0)


class TestRasterizeLines:
    def test_bresenham_and_operator(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.operators.vectorize import rasterize_layer
        from gdal_spark.oracle import geom as G
        from gdal_spark.oracle.rasterize import rasterize_lines

        gt = [0.0, 1.0, 0.0, 10.0, 0.0, -1.0]
        # kernel: intermediate vertices burn once in add mode
        line = np.array([[0.5, 9.5], [4.5, 9.5], [4.5, 5.5]])
        out = rasterize_lines([line], gt, 10, 10, add=True)
        assert out.max() == 1.0 and out.sum() == 9

        # operator: linestring WKB through the tiled burn path
        wkb = G.to_wkb("linestring", np.array([[1.5, 8.5], [20.5, 8.5]]))
        polys = spark.createDataFrame(pd.DataFrame(
            [{"fid": 1, "wkb": bytes(wkb)}]))
        got = rasterize_layer(polys, minx=0.0, maxy=10.0, cell=1.0,
                              nx=24, ny=10, tile_px=8).toPandas()
        # one horizontal run of 20 cells on row 1 (y world 8.5)
        assert len(got) == 20
        assert (got["py"] == 1).all()
        assert set(got["px"]) == set(range(1, 21))
        # all_touched includes at least the same cells
        at = rasterize_layer(polys, minx=0.0, maxy=10.0, cell=1.0,
                             nx=24, ny=10, tile_px=8,
                             all_touched=True).toPandas()
        assert set(zip(at["px"], at["py"])) >= set(
            zip(got["px"], got["py"]))


    def test_point_features_through_layer(self, spark):
        import numpy as np
        import pandas as pd

        from gdal_spark.operators.vectorize import rasterize_layer
        from gdal_spark.oracle import geom as G

        pts = [G.to_wkb("point", np.array([2.5, 7.5])),
               G.to_wkb("multipoint", np.array([[2.5, 7.5], [5.5, 3.5]]))]
        polys = spark.createDataFrame(pd.DataFrame(
            [{"fid": i + 1, "wkb": bytes(b)} for i, b in enumerate(pts)]))
        got = rasterize_layer(polys, minx=0.0, maxy=10.0, cell=1.0,
                              nx=10, ny=10, tile_px=8,
                              add=True).toPandas()
        by = {(r.px, r.py): r.v for r in got.itertuples(index=False)}
        assert by[(2, 2)] == 2.0  # both features hit (2.5, 7.5) -> adds
        assert by[(5, 6)] == 1.0
