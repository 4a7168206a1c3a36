"""Driver-contract query registry.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql).
Oracle SQL runs in DuckDB over the pre-registered parquet views; output
column NAMES and VALUES must match the Spark result (the driver hashes
values after sorting columns by name), so:

* every computed column is aliased identically on both sides;
* float outputs are rounded (engine libm ulp differences);
* sums over doubles go through DECIMAL (associative, order-independent);
* cell/tile math shares one template text (gdal_spark.sql.templates).

Queries cover SURVEY.md §2 operator rows; reference files cited per entry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .sql import templates as T
from .sql.geoviews import (
    CUSTOMER_POINTS_CTE,
    ORDERS_POINTS_CTE,
    SUPPLIER_POINTS_CTE,
    register_tpch_views,
)

QUERIES: dict = {}

# GDALChecksumImage prime table as a SQL CASE over a flat pixel index
_CS_PRIME = ("CASE ({i}) % 11 WHEN 0 THEN 7 WHEN 1 THEN 11 WHEN 2 THEN 13 "
             "WHEN 3 THEN 17 WHEN 4 THEN 19 WHEN 5 THEN 23 WHEN 6 THEN 29 "
             "WHEN 7 THEN 31 WHEN 8 THEN 37 WHEN 9 THEN 41 ELSE 43 END")



def q(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


def _images_n(sf_dir: str) -> int:
    """Deterministic synthetic-image count per scale dir."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        sf = 0.01
    return max(60, int(20000 * sf))


# ---------------------------------------------------------------------------
# Cell / tile key layer (gdal2tiles GlobalMercator semantics, SURVEY §2.6)
# ---------------------------------------------------------------------------

_TILE_ASSIGN_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT pid,
       {T.sql_tile_x('lon', '7')} AS tx,
       {T.sql_tile_y_tms('lat', '7')} AS ty,
       {T.sql_tile_y_xyz('lat', '7')} AS ty_xyz,
       {T.sql_cell('lon', 'lat', '7')} AS cell
FROM customer_points
"""


@q("tile_assign", _TILE_ASSIGN_SQL)
def tile_assign(spark, sf_dir):
    """lon/lat -> z7 TMS/XYZ tile + Morton cell id, pure column math.
    Ref: gdal2tiles.py:423-487 LatLonToMeters/MetersToTile."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_TILE_ASSIGN_SQL)


_CELL_ROLLUP_SQL = f"""
WITH {ORDERS_POINTS_CTE.strip()},
cells AS (
  SELECT {T.sql_cell('lon', 'lat', '12')} AS cell12 FROM orders_points
)
SELECT {T.sql_cell_parent('cell12', 7)} AS cell5, COUNT(*) AS n
FROM cells
GROUP BY {T.sql_cell_parent('cell12', 7)}
"""


@q("cell_rollup", _CELL_ROLLUP_SQL)
def cell_rollup(spark, sf_dir):
    """Hierarchical rollup: z12 cells aggregated at parent z5 (the pyramid
    LOD-selection pattern, gcore/rasterio.cpp:401 overview choice)."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_CELL_ROLLUP_SQL)


_SPATIAL_JOIN_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT pid,
       {T.sql_tile_x('lon', '6')} AS x,
       {T.sql_tile_y_tms('lat', '6')} AS y
FROM customer_points
"""


@q("spatial_join_tiles", _SPATIAL_JOIN_SQL)
def spatial_join_tiles(spark, sf_dir):
    """Point-in-tile spatial join via the operator (broadcast grid + cell
    equi-join + ray-cast refine); oracle = direct containment math.
    Ref semantics: ogrlayer.cpp:3902-4067 SetSpatialFilter + FilterGeometry."""
    from .fixtures.tile_grid import tile_grid_df
    from .operators.spatial_join import spatial_join_points_tiles

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT * FROM customer_points")
    grid = tile_grid_df(spark, 6, 6)
    return spatial_join_points_tiles(pts, grid, 6, refine="raycast").select(
        "pid", "x", "y"
    )


_PIP_BOXES = [
    # (poly_id, minx, miny, maxx, maxy) EPSG:3857 — off-boundary coords
    (0, -7812345.678, 1234567.891, -2345678.912, 5678901.234),
    (1, -1234567.891, -6789012.345, 4567890.123, -123456.789),
    (2, 123456.789, 4567890.123, 9876543.210, 8765432.109),
    (3, -18012345.678, -8901234.567, -9876543.210, -1234567.891),
    (4, 10123456.789, -3456789.012, 17890123.456, 3456789.012),
]

_PIP_BOXES_SQL = " UNION ALL ".join(
    f"SELECT {p} AS poly_id, CAST({a!r} AS DOUBLE) AS minx, CAST({b!r} AS DOUBLE) AS miny,"
    f" CAST({c!r} AS DOUBLE) AS maxx, CAST({d!r} AS DOUBLE) AS maxy"
    for p, a, b, c, d in _PIP_BOXES
)

_PIP_JOIN_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
boxes AS ({_PIP_BOXES_SQL}),
pts AS (
  SELECT pid, {T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my
  FROM customer_points
)
SELECT p.pid, b.poly_id
FROM pts p JOIN boxes b
  ON p.mx > b.minx AND p.mx < b.maxx AND p.my > b.miny AND p.my < b.maxy
"""


def pip_polygon_join(spark, sf_dir):
    """Points x arbitrary polygons: covering-cell candidates + exact even-odd
    ray cast (ogrlinearring.cpp:452-517). Boxes sit off any representable
    point coordinate, so the ray-cast set == the strict-bbox oracle set."""
    from .fixtures.tile_grid import wkb_polygon
    from .operators.spatial_join import spatial_join_points_polygons
    import pandas as pd

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT * FROM customer_points")
    rows = [
        dict(
            poly_id=p, minx=a, miny=b, maxx=c, maxy=d,
            wkb=wkb_polygon([(a, b), (c, b), (c, d), (a, d), (a, b)]),
        )
        for p, a, b, c, d in _PIP_BOXES
    ]
    polys = spark.createDataFrame(pd.DataFrame(rows))
    return spatial_join_points_polygons(
        pts, polys, zoom=4, broadcast_polys=True
    ).select("pid", "poly_id")


_KNN_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{SUPPLIER_POINTS_CTE.strip()},
qp AS (SELECT pid, {T.sql_mx('lon')} AS qx, {T.sql_my('lat')} AS qy FROM customer_points),
cp AS (SELECT sid, {T.sql_mx('lon')} AS cx, {T.sql_my('lat')} AS cy FROM supplier_points),
pairs AS (
  SELECT pid, sid,
         sqrt((qx - cx) * (qx - cx) + (qy - cy) * (qy - cy)) AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY pid
           ORDER BY sqrt((qx - cx) * (qx - cx) + (qy - cy) * (qy - cy)), sid
         ) AS rank
  FROM qp CROSS JOIN cp
)
SELECT pid, sid, rank, CAST(floor(dist / 100.0) AS BIGINT) AS dist_hm
FROM pairs WHERE rank <= 2
"""


@q("knn_nearest_supplier", _KNN_SQL)
def knn_nearest_supplier(spark, sf_dir):
    """2 nearest suppliers per customer point via ``knn_join``
    (alg/gdalgrid.cpp:905-982 nearest search); oracle = brute force.
    Distance reported in hectometers (floor) to absorb libm ulp skew."""
    from .operators.knn import knn_join

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT * FROM customer_points")
    cand = spark.sql(f"WITH {SUPPLIER_POINTS_CTE.strip()} SELECT * FROM supplier_points")
    res = knn_join(pts, cand, k=2)  # auto zoom from candidate density
    return res.select(
        "pid", "sid", "rank",
        F.floor(F.col("dist_m") / 100.0).cast("bigint").alias("dist_hm"),
    )


# ---------------------------------------------------------------------------
# OGR SQL surface (SURVEY §2.2, §2.4, §2.5 — ogr_swq.h / ogr_gensql.cpp)
# ---------------------------------------------------------------------------

_SUMMARY_SQL = """
WITH s AS (
  SELECT COUNT(*) AS cnt,
         COUNT(DISTINCT l_returnflag) AS cnt_distinct_flag,
         MIN(l_quantity) AS min_qty,
         MAX(l_quantity) AS max_qty,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         -- doubles -> exact integer micro-units BEFORE summing: integer sums
         -- are order-independent, so partial-agg scheduling can't move the
         -- last decimal (plain SUM(double) differs between engines/runs)
         SUM(CAST(ROUND(l_discount * 1000000.0) AS BIGINT)) AS sum_disc_u,
         SUM(CAST(ROUND(l_tax * 1000000.0) AS BIGINT)) AS sum_tax_u,
         SUM(CAST(ROUND(l_tax * 1000000.0) AS BIGINT)
             * CAST(ROUND(l_tax * 1000000.0) AS BIGINT)) AS sum_tax2_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
)
SELECT cnt, cnt_distinct_flag, min_qty, max_qty, sum_qty, sum_price,
       ROUND(CAST(sum_disc_u AS DOUBLE) / cnt / 1000000.0, 6) AS avg_disc,
       ROUND(sqrt((CAST(sum_tax2_u AS DOUBLE)
                   - CAST(sum_tax_u AS DOUBLE) * CAST(sum_tax_u AS DOUBLE) / cnt)
                  / cnt) / 1000000.0, 6) AS stddev_pop_tax,
       ROUND(sqrt((CAST(sum_tax2_u AS DOUBLE)
                   - CAST(sum_tax_u AS DOUBLE) * CAST(sum_tax_u AS DOUBLE) / cnt)
                  / (cnt - 1)) / 1000000.0, 6) AS stddev_samp_tax
FROM s
"""


@q("summary_stats", _SUMMARY_SQL)
def summary_stats(spark, sf_dir):
    """OGR SQL summary-record mode: whole-table MIN/MAX/COUNT/COUNT DISTINCT/
    SUM/AVG/STDDEV_* in one pass (ogr/ogr_swq.h:324-398 accumulators,
    ogr_gensql.cpp:864-990). DECIMAL sums for order-independence."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_SUMMARY_SQL)


_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag AS flag FROM lineitem
"""


@q("distinct_list", _DISTINCT_SQL)
def distinct_list(spark, sf_dir):
    """SWQM_DISTINCT_LIST single-column mode (ogr/ogr_swq.h:322)."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_DISTINCT_SQL)


_FIRST_MATCH_JOIN_SQL = """
WITH first_line AS (
  SELECT l_orderkey, l_partkey, l_linenumber,
         ROW_NUMBER() OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
         ) AS rn
  FROM lineitem
)
SELECT o.o_orderkey, o.o_orderstatus,
       COALESCE(f.l_partkey, -1) AS l_partkey,
       COALESCE(f.l_linenumber, -1) AS l_linenumber
FROM orders o
LEFT JOIN first_line f ON o.o_orderkey = f.l_orderkey AND f.rn = 1
"""


@q("left_join_first_match", _FIRST_MATCH_JOIN_SQL)
def left_join_first_match(spark, sf_dir):
    """OGR SQL LEFT JOIN keeps only the FIRST matching secondary feature
    (ogr_gensql.cpp:1516-1546 nested fetch-first loop) — cloned with a
    row_number window; Spark plans broadcast/SMJ instead of a per-row loop."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_FIRST_MATCH_JOIN_SQL)


_ORDER_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100 OFFSET 10
"""


@q("order_limit_offset", _ORDER_LIMIT_SQL)
def order_limit_offset(spark, sf_dir):
    """ORDER BY multi-key + LIMIT/OFFSET (ogr_gensql.cpp:2218 merge sort,
    ogr/ogr_swq.h:479-483); Spark plans TakeOrdered, no full sort."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_ORDER_LIMIT_SQL)


_EXPR_SQL = """
SELECT p_partkey,
       SUBSTR(p_name, 1, 8) AS name8,
       CONCAT(p_brand, '#', CAST(p_size AS STRING)) AS brand_size,
       CAST(floor(p_retailprice) AS BIGINT) AS price_int,
       (p_size BETWEEN 10 AND 20) AS size_mid,
       (p_brand IN ('Brand#1', 'Brand#2')) AS brand_sel
FROM part
WHERE LOWER(p_type) LIKE '%econ%' OR p_name ILIKE '%RED%'
"""


@q("expr_projection", _EXPR_SQL)
def expr_projection(spark, sf_dir):
    """SWQ scalar surface: SUBSTR/CONCAT/CAST/LIKE/ILIKE/BETWEEN/IN
    (ogr/swq_op_general.cpp:41-1202, ogr/ogr_swq.h:43-78)."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_EXPR_SQL)


_UNION_SQL = """
WITH building AS (
    SELECT c_custkey AS k, c_mktsegment AS seg
    FROM customer WHERE c_mktsegment = 'BUILDING'
)
SELECT 'union_all' AS mode, k, seg FROM (
    SELECT k, seg FROM building
    UNION ALL
    SELECT s_suppkey AS k, 'SUPPLIER' AS seg FROM supplier WHERE s_acctbal > 0
)
UNION ALL
SELECT 'intersect' AS mode, k, 'I' AS seg FROM (
    SELECT k FROM building INTERSECT SELECT o_custkey FROM orders
)
UNION ALL
SELECT 'except' AS mode, k, 'E' AS seg FROM (
    SELECT k FROM building EXCEPT SELECT o_custkey FROM orders
)
UNION ALL
SELECT 'semi' AS mode, o.o_orderkey AS k, 'S' AS seg FROM orders o
WHERE EXISTS (SELECT 1 FROM building b WHERE b.k = o.o_custkey)
UNION ALL
SELECT 'anti' AS mode, o.o_orderkey AS k, 'A' AS seg FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM building b WHERE b.k = o.o_custkey)
"""


@q("union_all", _UNION_SQL)
def union_all(spark, sf_dir):
    """Set-operation suite: UNION ALL (OGRUnionLayer,
    gcore/gdaldataset.cpp:7560-7602), INTERSECT/EXCEPT (SQLite-dialect
    compound selects), and semi/anti joins (the resume/incremental
    left_anti shape, streaming/incremental.py) — each mode built with the
    native DataFrame operator (unionByName / intersect / subtract /
    left_semi / left_anti joins), discriminated by a mode column so one
    driver-gate slot value-pins all five."""
    register_tpch_views(spark, sf_dir)
    customer = spark.table("customer")
    supplier = spark.table("supplier")
    orders = spark.table("orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg"))
    suppliers = supplier.filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").alias("k"), F.lit("SUPPLIER").alias("seg"))
    buyers = orders.select(F.col("o_custkey").alias("k"))
    u = building.unionByName(suppliers).select(
        F.lit("union_all").alias("mode"), "k", "seg")
    i = building.select("k").intersect(buyers).select(
        F.lit("intersect").alias("mode"), "k", F.lit("I").alias("seg"))
    e = building.select("k").subtract(buyers).select(
        F.lit("except").alias("mode"), "k", F.lit("E").alias("seg"))
    s = orders.join(building, orders.o_custkey == building.k,
                    "left_semi").select(
        F.lit("semi").alias("mode"), F.col("o_orderkey").alias("k"),
        F.lit("S").alias("seg"))
    a = orders.join(building, orders.o_custkey == building.k,
                    "left_anti").select(
        F.lit("anti").alias("mode"), F.col("o_orderkey").alias("k"),
        F.lit("A").alias("seg"))
    return u.unionByName(i).unionByName(e).unionByName(s).unionByName(a)


_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
       CAST(LAG(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
       ) AS BIGINT) AS prev_key
FROM orders
"""


@q("window_rank", _WINDOW_SQL)
def window_rank(spark, sf_dir):
    """Window functions (absent in OGR SQL; provided via the SQLite dialect,
    gcore/gdaldataset.cpp:7416-7420) — native in Spark."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_WINDOW_SQL)


_GROUPBY_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@q("group_by_agg", _GROUPBY_SQL)
def group_by_agg(spark, sf_dir):
    """GROUP BY aggregation (SQLite-dialect surface in the reference,
    ogrsqliteexecutesql.cpp; TPC-H Q1 shape). Map-side partial agg + one
    shuffle on the group keys."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(_GROUPBY_SQL)


@q(
    "events_tumbling_window",
    """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS win_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_window(spark, sf_dir):
    """5-minute tumbling-window aggregation — the batch twin of the
    Structured Streaming windowed agg (gdal_spark.streaming runs the same
    plan with readStream/availableNow)."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(
        """
SELECT CAST(floor(unix_timestamp(ts) / 300) AS BIGINT) * 300 AS win_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""
    )


@q(
    "events_props_extract",
    """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
)
def events_props_extract(spark, sf_dir):
    """Key-value extraction from a JSON props column — the engine's
    HSTORE_GET_VALUE (ogr/swq_op_general.cpp:1202)."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(
        """
SELECT CAST(get_json_object(props, '$.k') AS INT) % 10 AS k_bucket,
       COUNT(*) AS n
FROM events
GROUP BY 1
"""
    )


@q(
    "sessionize_batch",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 600000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM sess
GROUP BY user_id, session_id
""",
)
def sessionize_batch_q(spark, sf_dir):
    """Gap-based sessionization (batch twin of the stateful streaming
    operator): LAG + running-sum window math, fully tie-broken
    (ts, event_id) — the driver oracle replays microsecond-exact gap
    flags and exact integer cent sums."""
    from .streaming.incremental import sessionize_batch

    register_tpch_views(spark, sf_dir)
    return sessionize_batch(spark.table("events"), gap_minutes=10)


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text / similarity (documents, embeddings)
# ---------------------------------------------------------------------------

def _md5_int64(t):
    """int64 view of the first 64 bits of md5 (the value gates' pluggable
    token/shingle hash — xxhash64 has no DuckDB equivalent; DuckDB replays
    this as CAST('0x' || substring(md5(x), 1, 16) AS UBIGINT))."""
    ud = F.conv(F.substring(F.md5(t), 1, 16), 16, 10).cast("decimal(20,0)")
    return F.when(
        ud > F.lit("9223372036854775807").cast("decimal(20,0)"),
        (ud - F.lit("18446744073709551616").cast("decimal(21,0)"))
        .cast("long")).otherwise(ud.cast("long"))


def _minhash_params_sql() -> str:
    """64-row VALUES table of the production universal-hash params
    (seed-42 _minhash_params constants embedded as HUGEINT literals)."""
    from .operators.dedup import _minhash_params

    a, b = _minhash_params(64)
    rows = ", ".join(
        f"({i}, CAST('{int(a[i])}' AS HUGEINT), CAST('{int(b[i])}' AS HUGEINT))"
        for i in range(64))
    return f"(VALUES {rows}) mh(i, ha, hb)"


# exact_dedup_docs became a multi-mode corpus-ops value gate in round 5:
#   exact  — md5 exact-dedup groups (the original slot)
#   vocab  — top-20 corpus vocabulary rows by (tf desc, token)
#   bm25   — Okapi BM25 top-15 for a fixed query (micro-unit scores)
#   contam — 13-gram train/eval decontamination counts (eval = doc_id%7=0)
# Unified schema (mode, key, a, b); every mode replayed in DuckDB.  The
# contamination oracle joins on the raw 13-gram strings where the Spark
# operator joins on their 63-bit rolling hashes — identical semantics
# absent a hash collision; gram keys are byte-grams of the UTF-8 text
# (equal to char-grams on this ASCII corpus).
_DEDUP_SUITE_SQL = r"""
WITH ex AS (
  SELECT 'exact' AS mode, md5(lower(trim(text))) AS key,
         CAST(MIN(doc_id) AS BIGINT) AS a,
         CAST(COUNT(*) - 1 AS BIGINT) AS b
  FROM documents GROUP BY 2
),
voc AS (
  SELECT 'vocab' AS mode, key, a, b FROM (
    SELECT lower(token) AS key,
           CAST(COUNT(*) AS BIGINT) AS a,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS b
    FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
                 AS token
          FROM documents WHERE trim(text) <> '')
    GROUP BY 1 ORDER BY a DESC, key LIMIT 20)
),
b25 AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE list_transform(string_split_regex(trim(text), '\s+'),
                                  x -> lower(x)) END AS toks
  FROM documents
),
lens AS (SELECT doc_id, len(toks) AS dl FROM b25),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM b25)
  WHERE token IN ('spark', 'merge', 'window')
  GROUP BY 1, 2
),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
bmraw AS (
  SELECT tf.doc_id AS did,
         ROUND(SUM(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))),
               9) AS s9,
         COUNT(*) AS nh
  FROM tf JOIN dfq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats
  GROUP BY 1
),
bm AS (
  SELECT 'bm25' AS mode, CAST(did AS VARCHAR) AS key,
         CAST(ROUND(s9 * 1000000.0) AS BIGINT) AS a,
         CAST(nh AS BIGINT) AS b
  FROM bmraw ORDER BY s9 DESC, did LIMIT 15
),
cn AS (
  SELECT doc_id,
         lower(array_to_string(
           list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
           ' ')) AS norm
  FROM documents
),
cg AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
              WHEN length(norm) < 13
                THEN [norm || repeat(' ', 13 - length(norm))]
              ELSE list_distinct(list_transform(
                     range(1, length(norm) - 11),
                     i -> substring(norm, CAST(i AS BIGINT), 13)))
         END AS grams
  FROM cn
),
evg AS (SELECT doc_id, unnest(grams) AS g FROM cg WHERE doc_id % 7 = 0),
cog AS (SELECT DISTINCT g FROM
        (SELECT unnest(grams) AS g FROM cg WHERE doc_id % 7 <> 0)),
hits AS (SELECT e.doc_id, COUNT(*) AS n_hits
         FROM evg e JOIN cog USING (g) GROUP BY 1),
ct AS (
  SELECT 'contam' AS mode, CAST(doc_id AS VARCHAR) AS key,
         CAST(len(grams) AS BIGINT) AS a,
         CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS b
  FROM cg LEFT JOIN hits h USING (doc_id)
  WHERE doc_id % 7 = 0
),
mnorm AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nm
  FROM documents
),
mg AS (
  SELECT doc_id, nm,
         unnest(range(1, greatest(length(nm) - 4, 1) + 1)) AS gi
  FROM mnorm
),
mu AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substring(
           md5(substring(nm, CAST(gi AS BIGINT), 5)), 1, 16) AS UBIGINT) AS u
  FROM mg
),
mv AS (
  SELECT 'minsig' AS mode, CAST(mu.doc_id AS VARCHAR) AS key,
         CAST(mh.i AS BIGINT) AS a,
         MIN(CAST(((mh.ha * CAST(u AS HUGEINT) + mh.hb)
                   % CAST('18446744073709551616' AS HUGEINT)) // 2
                  AS BIGINT)) AS b
  FROM mu CROSS JOIN {MINHASH_PARAMS} GROUP BY 1, 2, 3
)
SELECT * FROM ex
UNION ALL SELECT * FROM voc
UNION ALL SELECT * FROM bm
UNION ALL SELECT * FROM ct
UNION ALL SELECT * FROM mv
"""

_DEDUP_SUITE_SQL = _DEDUP_SUITE_SQL.replace(
    "{MINHASH_PARAMS}", _minhash_params_sql())


@q("exact_dedup_docs", _DEDUP_SUITE_SQL)
def exact_dedup_docs(spark, sf_dir):
    """Corpus-ops value-gate suite (round-5 multi-mode fold): exact dedup
    groups on normalized text (md5 so DuckDB can oracle it; production
    path uses the cheaper xxhash64 fingerprint), top-20 vocabulary stats,
    Okapi BM25 top-15 retrieval (micro-unit BIGINT scores), and 13-gram
    train/eval decontamination counts over a deterministic doc_id%7
    split.  One slot grades four formerly rows-only LLM-pipeline
    operators."""
    from .functions.text import bm25_search, vocab_stats
    from .operators.dedup import ngram_contamination

    register_tpch_views(spark, sf_dir)
    exact = spark.sql(
        """
SELECT 'exact' AS mode, md5(lower(trim(text))) AS key,
       CAST(MIN(doc_id) AS BIGINT) AS a,
       CAST(COUNT(*) - 1 AS BIGINT) AS b
FROM documents
GROUP BY 2
"""
    )
    docs = spark.table("documents")
    voc = vocab_stats(docs, top_k=20).select(
        F.lit("vocab").alias("mode"), F.col("token").alias("key"),
        F.col("tf").cast("long").alias("a"),
        F.col("df").cast("long").alias("b"))
    bm = bm25_search(docs, ["spark", "merge", "window"], top_k=15).select(
        F.lit("bm25").alias("mode"), F.col("doc_id").cast("string").alias("key"),
        F.round(F.col("score") * 1000000.0).cast("long").alias("a"),
        F.col("n_terms_hit").cast("long").alias("b"))
    ct = ngram_contamination(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0), shingle_n=13).select(
        F.lit("contam").alias("mode"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_grams").cast("long").alias("a"),
        F.col("n_hits").cast("long").alias("b"))
    # minsig: the production MinHash min-fold kernel (seed-42 universal
    # hash params) over md5-derived char-5-gram shingle hashes, one row
    # per (doc, hash index) — DuckDB replays the full (a*u+b) mod 2^64 >> 1
    # min chain with the same params as HUGEINT literals
    from .functions.text import shingles
    from .operators.dedup import minhash_signatures

    mh = minhash_signatures(
        docs, shingle_hashes_col=F.transform(
            shingles("text", 5), _md5_int64)).select(
        "doc_id", F.posexplode("sig").alias("i", "s")).select(
        F.lit("minsig").alias("mode"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("i").cast("long").alias("a"), F.col("s").alias("b"))
    return exact.unionAll(voc).unionAll(bm).unionAll(ct).unionAll(mh)


# text_metrics: token counts + the full Gopher (arXiv:2112.11446 §A1.1)
# repetition/quality rule set, replayed exactly in DuckDB. Ratios are
# micro-unit BIGINTs; the keep flag re-derives from the same integers.
_TEXT_METRICS_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lns
  FROM documents
),
m AS (
  SELECT doc_id, text,
    CAST(length(text) AS BIGINT) AS n_chars2,
    CAST(len(w) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
    CAST(len(lns) AS BIGINT) AS n_lines,
    CAST(ROUND((len(lns) - len(list_distinct(lns)))
         / greatest(len(lns), 1) * 1000000.0) AS BIGINT) AS dup_line_frac_u,
    CAST(ROUND((COALESCE(list_sum(list_transform(lns, x -> length(x))), 0)
         - COALESCE(list_sum(list_transform(list_distinct(lns),
                                            x -> length(x))), 0))
         / greatest(COALESCE(list_sum(list_transform(lns, x -> length(x))),
                             0), 1)
         * 1000000.0) AS BIGINT) AS dup_line_char_frac_u,
    CAST(ROUND(len(list_filter(lns, x -> list_contains(
           ['-','*','•','‣','▪'], substr(ltrim(x), 1, 1))))
         / greatest(len(lns), 1) * 1000000.0) AS BIGINT) AS bullet_line_frac_u,
    CAST(ROUND(len(list_filter(lns, x -> ends_with(rtrim(x), '...')
                                          OR ends_with(rtrim(x), '…')))
         / greatest(len(lns), 1) * 1000000.0) AS BIGINT)
      AS ellipsis_line_frac_u,
    CAST(ROUND(((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3
         + (length(text) - length(replace(text, '…', ''))))
         / greatest(len(w), 1) * 1000000.0) AS BIGINT) AS symbol_word_ratio_u,
    CAST(ROUND(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
         / greatest(len(w), 1) * 1000000.0) AS BIGINT) AS alpha_word_frac_u,
    CAST(ROUND(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
         / greatest(len(w), 1) * 1000000.0) AS BIGINT) AS mean_word_len_u,
    CAST(len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
         ['the','be','to','of','and','that','have','with'])) AS BIGINT)
      AS stop_hits,
    COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS word_chars
  FROM base
),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         i -> w[i] || ' ' || w[CAST(i AS BIGINT) + 1])) AS bigram
  FROM base WHERE len(w) >= 2
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id AS tdoc, bigram, c,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, bigram DESC) AS rn
  FROM cnt
),
-- Gopher duplicate word-n-gram covered-char counts (n = 5..10),
-- position-exact (round-5 fold): duplicated n-grams mark the char
-- interval [start(word i), start + length(gram)) in the space-joined
-- word stream; per-doc coverage = interval-union length via an
-- ordered sweep (running max of interval ends).  Pure integers — no
-- rounding anywhere, so the replay is exact.  The probe stream appends
-- each doc's first 12 words (the synthetic corpus has no natural
-- intra-doc n-gram repetition, so the union logic would gate trivially
-- at zero otherwise); the Spark side applies the same transform.
gprobe AS (
  SELECT doc_id,
         list_filter(string_split_regex(
           text || ' ' || array_to_string(w[1:12], ' ')
                || ' ' || array_to_string(w[1:6], ' '), '\s+'),
           x -> x <> '') AS pw
  FROM base
),
gtot AS (
  SELECT doc_id, pw AS words, len(pw) AS nw,
         CASE WHEN len(pw) = 0 THEN 0
              ELSE CAST(list_sum(list_transform(pw, x -> length(x)))
                        + len(pw) - 1 AS BIGINT) END AS stream_chars
  FROM gprobe
),
gidx AS (
  SELECT doc_id, words, nw, unnest(range(1, nw + 1)) AS i
  FROM gtot WHERE nw > 0
),
goff AS (
  SELECT doc_id, i, words, nw,
         CAST(COALESCE(SUM(length(words[i]) + 1) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_i
  FROM gidx
),
ggram AS (
  SELECT o.doc_id, gn.n, o.start_i,
         array_to_string(o.words[o.i : o.i + gn.n - 1], ' ') AS gram
  FROM goff o CROSS JOIN (SELECT unnest([5, 6, 7, 8, 9, 10]) AS n) gn
  WHERE o.i + gn.n - 1 <= o.nw
),
gdup AS (
  SELECT doc_id, n, gram FROM ggram GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
),
gsweep AS (
  SELECT g.doc_id, g.n, g.start_i AS s,
         g.start_i + length(g.gram) AS e,
         MAX(g.start_i + length(g.gram)) OVER (
           PARTITION BY g.doc_id, g.n ORDER BY g.start_i,
           g.start_i + length(g.gram)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM ggram g JOIN gdup USING (doc_id, n, gram)
),
gcov AS (
  SELECT doc_id, n,
         SUM(greatest(e - greatest(s, COALESCE(pmax, 0)), 0)) AS covered
  FROM gsweep GROUP BY 1, 2
),
gfin AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN n = 5 THEN covered END), 0) AS BIGINT)
           AS dup5_chars,
         CAST(COALESCE(MAX(CASE WHEN n = 6 THEN covered END), 0) AS BIGINT)
           AS dup6_chars,
         CAST(COALESCE(MAX(CASE WHEN n = 7 THEN covered END), 0) AS BIGINT)
           AS dup7_chars,
         CAST(COALESCE(MAX(CASE WHEN n = 8 THEN covered END), 0) AS BIGINT)
           AS dup8_chars,
         CAST(COALESCE(MAX(CASE WHEN n = 9 THEN covered END), 0) AS BIGINT)
           AS dup9_chars,
         CAST(COALESCE(MAX(CASE WHEN n = 10 THEN covered END), 0) AS BIGINT)
           AS dup10_chars
  FROM gcov GROUP BY 1
)
SELECT m.doc_id, m.n_chars2, m.n_tokens, m.n_spaces, m.n_lines,
       m.dup_line_frac_u, m.dup_line_char_frac_u, m.bullet_line_frac_u,
       m.ellipsis_line_frac_u, m.symbol_word_ratio_u, m.alpha_word_frac_u,
       m.mean_word_len_u, m.stop_hits,
       CAST(COALESCE(ROUND(top.c * (length(top.bigram) - 1)
            / greatest(m.word_chars, 1) * 1000000.0), 0) AS BIGINT)
         AS top_bigram_frac_u,
       CAST(CASE WHEN m.n_tokens BETWEEN 50 AND 100000
                  AND m.mean_word_len_u BETWEEN 3000000 AND 10000000
                  AND m.symbol_word_ratio_u <= 100000
                  AND m.bullet_line_frac_u <= 900000
                  AND m.ellipsis_line_frac_u <= 300000
                  AND m.alpha_word_frac_u >= 800000
                  AND m.stop_hits >= 2
                  AND m.dup_line_frac_u <= 300000
                  AND m.dup_line_char_frac_u <= 200000
                  AND CAST(COALESCE(ROUND(top.c * (length(top.bigram) - 1)
                        / greatest(m.word_chars, 1) * 1000000.0), 0) AS BIGINT)
                      <= 200000
            THEN 1 ELSE 0 END AS INT) AS gopher_keep,
       gt.stream_chars,
       COALESCE(gf.dup5_chars, 0) AS dup5_chars,
       COALESCE(gf.dup6_chars, 0) AS dup6_chars,
       COALESCE(gf.dup7_chars, 0) AS dup7_chars,
       COALESCE(gf.dup8_chars, 0) AS dup8_chars,
       COALESCE(gf.dup9_chars, 0) AS dup9_chars,
       COALESCE(gf.dup10_chars, 0) AS dup10_chars
FROM m
LEFT JOIN top ON m.doc_id = top.tdoc AND top.rn = 1
JOIN gtot gt USING (doc_id)
LEFT JOIN gfin gf USING (doc_id)
"""


@q("text_metrics", _TEXT_METRICS_SQL)
def text_metrics(spark, sf_dir):
    """Token counting + the Gopher repetition/quality rule set (Rae et al.
    2021 §A1.1): duplicate-line fractions, symbol/bullet/ellipsis ratios,
    alpha-word fraction, stopword presence, top word-2-gram character
    fraction, and the composite keep flag. Per-doc signals are zero-shuffle
    JVM column math; the top-2-gram adds one partial-aggregated shuffle.
    Every ratio is a micro-unit BIGINT replayed exactly in DuckDB."""
    from .functions.text import (
        gopher_dup_ngram_counts, gopher_keep, gopher_metrics, token_count,
        top_bigram_frac)

    register_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    from .functions.text import tokens as _tokens

    gm = gopher_metrics("text")
    # repetition probe: append the doc's first 12 words so the corpus
    # (which has no natural intra-doc repetition) exercises the
    # position-exact dup-n-gram union — mirrored in the DuckDB oracle
    probe = F.concat_ws(
        " ", F.col("text"),
        F.array_join(F.slice(_tokens("text"), 1, 12), " "),
        F.array_join(F.slice(_tokens("text"), 1, 6), " "))
    dnc = gopher_dup_ngram_counts(probe)
    metrics = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars2"),
        token_count("text").cast("long").alias("n_tokens"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
        .cast("long").alias("n_spaces"),
        *[v.alias(k) for k, v in gm.items()],
        dnc.alias("_dnc"),
    )
    tb = top_bigram_frac(docs)
    out = (
        metrics.join(tb, "doc_id", "left")
        .fillna({"top_bigram_frac_u": 0})
        .withColumn("gopher_keep", gopher_keep(F.col("n_tokens")))
        .withColumn("stream_chars", F.col("_dnc")[6])
    )
    for i, n in enumerate((5, 6, 7, 8, 9, 10)):
        out = out.withColumn(f"dup{n}_chars", F.col("_dnc")[i])
    return out.drop("_dnc")


# lang_id / quality_score re-derived in DuckDB: stopword-intersection
# scoring with Spark's exact tie-break (array_max over (score, lang)
# structs -> ties pick the lexicographically LARGEST language string:
# fr > es > en > de), plus the arithmetic quality formula.
_LQ_STOP = {
    "en": "'the','and','of','to','in','is','that','it','was','for'",
    "de": "'der','die','das','und','ist','nicht','ein','mit','auf','sich'",
    "fr": "'le','la','les','et','est','un','une','des','dans','que'",
    "es": "'el','la','los','las','es','un','una','que','por','con'",
}

_LANG_QUALITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []
              ELSE list_distinct(list_transform(
                     string_split_regex(trim(text), '\s+'), x -> lower(x)))
         END AS dt,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
  FROM documents
),
sc AS (
  SELECT doc_id, text, ntok,
         len(list_intersect(dt, [{_LQ_STOP['en']}])) AS s_en,
         len(list_intersect(dt, [{_LQ_STOP['de']}])) AS s_de,
         len(list_intersect(dt, [{_LQ_STOP['fr']}])) AS s_fr,
         len(list_intersect(dt, [{_LQ_STOP['es']}])) AS s_es,
         length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
         length(regexp_replace(text, '\s+', '', 'g'))
           / greatest(ntok, 1) AS mtl,
         (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
           / CAST(greatest(length(text), 1) AS DOUBLE) AS pr
  FROM toks
),
lq AS (
SELECT doc_id,
       CASE WHEN cjk > 0 THEN 'zh'
            WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
              CASE WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   ELSE 'de' END
            ELSE 'und' END AS lang_pred,
       ROUND(least(ntok / 20.0, 1.0) * 0.4
             + CASE WHEN mtl >= 3 AND mtl <= 12 THEN 0.4 ELSE 0.0 END
             + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END, 4) AS quality
FROM sc
),
-- C4 cleaning replay (Raffel et al. 2020 §2.2), round-5 fold: the
-- sentence-ified corpus (period every 8th word, matching the Spark side),
-- line keep rules, page rules, and the corpus-wide 3-sentence-span dedup.
-- Spark's (?<=[.!?])\s+ sentence split is lookbehind (RE2 lacks it): the
-- replace-then-split below inserts chr(1) after terminal punctuation and
-- splits on it, consuming the same whitespace.  Spark groups spans by
-- xxhash64 of the normalized span; the replay groups by the normalized
-- span STRING itself (identical semantics absent a 64-bit collision).
c4doc AS (
  SELECT doc_id,
         array_to_string(list_transform(
           CASE WHEN trim(text) = '' THEN []
                ELSE string_split_regex(trim(text), '\s+') END,
           (x, i) -> CASE WHEN i % 8 = 0 THEN x || '.' ELSE x END), ' ')
         || '.' AS s
  FROM documents
),
c4clean AS (
  SELECT doc_id, kept,
         array_to_string(kept, chr(10)) AS text_clean,
         CAST(len(kept) AS BIGINT) AS c4_kept_lines
  FROM (
    SELECT doc_id,
           list_filter(
             list_filter(string_split(s, chr(10)), x -> trim(x) <> ''),
             x -> regexp_matches(rtrim(x), '[.!?"]$')
                  AND len(string_split_regex(trim(x), '\s+')) >= 5
                  AND NOT contains(lower(x), 'javascript')) AS kept
    FROM c4doc)
),
c4page AS (
  SELECT doc_id, text_clean, c4_kept_lines, sent,
         CAST(len(sent) AS BIGINT) AS c4_sentences,
         CASE WHEN len(sent) >= 3
                   AND NOT contains(lower(text_clean), 'lorem ipsum')
                   AND NOT contains(text_clean, '{{')
              THEN 1 ELSE 0 END AS c4_page_ok
  FROM (
    SELECT doc_id, text_clean, c4_kept_lines,
           list_filter(
             string_split(regexp_replace(text_clean, '([.!?])\s+',
                                         '\1' || chr(1), 'g'), chr(1)),
             x -> trim(x) <> '') AS sent
    FROM c4clean)
),
c4sp AS (
  SELECT doc_id, sent, unnest(range(1, len(sent) - 1)) AS i
  FROM c4page WHERE c4_page_ok = 1 AND len(sent) >= 3
),
c4spk AS (
  SELECT doc_id, i - 1 AS pos,
         lower(regexp_replace(trim(array_to_string(sent[i:i+2], ' ')),
                              '\s+', ' ', 'g')) AS key
  FROM c4sp
),
c4occ AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY key) AS c
  FROM c4spk
),
c4rm AS (
  SELECT doc_id, list(idx) AS rl, CAST(COUNT(*) AS BIGINT) AS c4_removed
  FROM (SELECT DISTINCT doc_id, pos + d AS idx
        FROM c4occ, (SELECT unnest([0, 1, 2]) AS d)
        WHERE c > 1 AND rn > 1)
  GROUP BY 1
),
c4dd AS (
  SELECT p.doc_id,
         CAST(length(array_to_string(
           list_filter(p.sent, (x, i) -> NOT list_contains(
             COALESCE(r.rl, CAST([] AS BIGINT[])), i - 1)),
           ' ')) AS BIGINT) AS c4_chars_dedup,
         COALESCE(r.c4_removed, 0) AS c4_removed
  FROM c4page p LEFT JOIN c4rm r USING (doc_id)
  WHERE p.c4_page_ok = 1
)
SELECT lq.doc_id, lq.lang_pred, lq.quality,
       p.c4_kept_lines, p.c4_sentences, p.c4_page_ok,
       COALESCE(d.c4_chars_dedup, 0) AS c4_chars_dedup,
       COALESCE(d.c4_removed, 0) AS c4_removed
FROM lq
JOIN c4page p USING (doc_id)
LEFT JOIN c4dd d USING (doc_id)
"""


@q("lang_quality", _LANG_QUALITY_SQL)
def lang_quality(spark, sf_dir):
    """Language-ID + quality scoring per document, VALUE-gated: the
    stopword-vote heuristic (incl. its struct-max tie-break) and the
    length/punct quality formula are replayed in DuckDB.  Round 5 folds
    the C4 cleaning pipeline (Raffel et al. 2020 §2.2) into the same
    gate: line keep rules, page rules, and the corpus-wide three-
    sentence-span dedup, all replayed as integer counters per document
    (the VERDICT r4 'candidate for a value-gate fold')."""
    from .functions.text import c4_line_clean, lang_id, quality_score, tokens
    from .operators.dedup import c4_span_dedup

    register_tpch_views(spark, sf_dir)
    docs = spark.table("documents")
    # sentence-ify deterministically (period every 8th word) — same
    # transform as the c4_clean query: the corpus has no punctuation
    sent_docs = docs.select(
        "doc_id",
        F.concat(
            F.array_join(
                F.transform(
                    tokens("text"),
                    lambda x, i: F.when(i % 8 == 7, F.concat(x, F.lit(".")))
                    .otherwise(x)),
                " "),
            F.lit("."),
        ).alias("text"),
    )
    lc = c4_line_clean("text")
    cleaned = sent_docs.select("doc_id", *[v.alias(k) for k, v in lc.items()])
    dd = c4_span_dedup(cleaned.where(F.col("page_ok") == 1),
                       text_col="text_clean")
    c4 = (
        cleaned.select(
            "doc_id",
            F.col("n_kept_lines").alias("c4_kept_lines"),
            F.col("n_sentences").alias("c4_sentences"),
            F.col("page_ok").alias("c4_page_ok"))
        .join(dd.select(
            "doc_id",
            F.length("text_dedup").cast("long").alias("c4_chars_dedup"),
            F.col("n_removed_sentences").cast("long").alias("c4_removed")),
            "doc_id", "left")
        .fillna({"c4_chars_dedup": 0, "c4_removed": 0})
    )
    base = spark.table("documents").select(
        "doc_id", lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
    )
    return base.join(c4, "doc_id")


# Round-5 multi-mode ANN suite: the base rows are the exact cosine top-10;
# each ANN index (hyperplane LSH / IVF / PQ-ADC) is additionally graded two
# ways, both DuckDB-expressible as constants on those rows:
#   *_exact  — the index run with its recall dial maxed (max_hamming=planes,
#              nprobe=nlist, refine over the whole corpus) degenerates to the
#              exact scan BY CONSTRUCTION, so its top-10 must equal the exact
#              top-10 (gates signatures / list assignment / ADC refine join
#              machinery at value level);
#   *_recall — at the production dial (mh=6/12, nprobe=6/16, rf=4) recall@10
#              must clear a 7/10 floor (measured 8-10 at sf0.001 and sf0.01;
#              the floor leaves margin for sampling-order jitter).
_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
SELECT e.vec_id,
       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])), 4) AS cosine,
       TRUE AS lsh_exact, TRUE AS ivf_exact, TRUE AS pq_exact,
       TRUE AS lsh_recall, TRUE AS ivf_recall, TRUE AS pq_recall
FROM embeddings e CROSS JOIN q
ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[])) DESC, e.vec_id ASC
LIMIT 10
"""


@q("similarity_topk", _TOPK_SQL)
def similarity_topk(spark, sf_dir):
    """Exact + ANN suite: brute-force cosine top-10 (the returned rows —
    TakeOrderedAndProject, no full sort) with per-index value gates as
    constant columns (see _TOPK_SQL comment).  All side runs collect k=10
    rows — bounded driver traffic.  Double-cast so both engines accumulate
    in f64; ROUND(4) absorbs fold-order ulps."""
    from .operators.similarity import (cosine_topk, ivf_build, ivf_topk,
                                       lsh_topk, pq_encode, pq_topk,
                                       pq_train)

    register_tpch_views(spark, sf_dir)
    qv = np.asarray(
        spark.table("embeddings").where(F.col("vec_id") == 3).first()["embedding"],
        dtype=np.float64,
    )
    emb = spark.table("embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    n = emb.count()

    def rows(df):
        return [(r.vec_id, round(r.cosine, 4)) for r in df.collect()]

    exact_rows = rows(cosine_topk(emb, qv, k=10))
    exact_set = set(exact_rows)

    assigned, cent = ivf_build(emb, nlist=16)
    books = pq_train(emb, m=8, ksub=64)
    codes = pq_encode(emb, books)
    # degenerate dials: keep-everything prefilters -> must equal exact
    lsh_exact = rows(lsh_topk(emb, qv, k=10, planes=12, max_hamming=12)) == exact_rows
    ivf_exact = rows(ivf_topk(assigned, cent, qv, k=10, nprobe=16)) == exact_rows
    pq_exact = rows(pq_topk(codes, books, qv, k=10, refine_df=emb,
                            refine_factor=(n + 9) // 10)) == exact_rows
    # production dials: recall@10 floor
    lsh_rec = len(set(rows(lsh_topk(emb, qv, k=10, planes=12, max_hamming=6)))
                  & exact_set) >= 7
    ivf_rec = len(set(rows(ivf_topk(assigned, cent, qv, k=10, nprobe=6)))
                  & exact_set) >= 7
    pq_rec = len(set(rows(pq_topk(codes, books, qv, k=10, refine_df=emb,
                                  refine_factor=4))) & exact_set) >= 7

    got = cosine_topk(emb, qv, k=10)
    return got.select(
        "vec_id", F.round("cosine", 4).alias("cosine"),
        F.lit(bool(lsh_exact)).alias("lsh_exact"),
        F.lit(bool(ivf_exact)).alias("ivf_exact"),
        F.lit(bool(pq_exact)).alias("pq_exact"),
        F.lit(bool(lsh_rec)).alias("lsh_recall"),
        F.lit(bool(ivf_rec)).alias("ivf_recall"),
        F.lit(bool(pq_rec)).alias("pq_recall"),
    )


# ---------------------------------------------------------------------------
# Raster pipeline (synthetic image table per input_hint)
# ---------------------------------------------------------------------------

# band 1 is (x + y*w) % 256 over w*h pixels (fixtures make_pixels), so its
# exact sum/sum-of-squares have closed forms: c full 0..255 cycles plus a
# partial run — a DuckDB value gate on the real zlib PNG decode + stats.
_DECODE_STATS_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0  -- png rows only (jpeg/webp are deterministic-lossy)
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
sums AS (
  SELECT i, w, h, CAST(w AS BIGINT) * h AS n,
         (CAST(w AS BIGINT) * h) // 256 AS c,
         (CAST(w AS BIGINT) * h) % 256 AS r
  FROM meta
),
px AS (
  SELECT m.i, m.w, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % 256 AS b1,
         (3 * (CAST(k.a AS BIGINT) % m.w)) % 256 AS b2,
         (7 * (CAST(k.a AS BIGINT) // m.w)) % 256 AS b3
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
),
csum AS (
  SELECT i,
    CAST(SUM(b1 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1,
    CAST(SUM(b2 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs2,
    CAST(SUM(b3 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs3
  FROM px GROUP BY i
)
SELECT printf('img%08d', s.i) AS image_id,
       0 AS min1,
       CASE WHEN n >= 256 THEN 255 ELSE n - 1 END AS max1,
       ROUND((c * 32640.0 + r * (r - 1) / 2.0) / n, 4) AS mean1,
       ROUND(sqrt((c * 5559680.0 + (r - 1) * r * (2 * r - 1) / 6.0) / n
                  - ((c * 32640.0 + r * (r - 1) / 2.0) / n)
                    * ((c * 32640.0 + r * (r - 1) / 2.0) / n)), 4) AS std1,
       cm.cs1, cm.cs2, cm.cs3
FROM sums s JOIN csum cm ON cm.i = s.i
"""


@q("decode_stats_png", _DECODE_STATS_SQL)
def decode_stats_png_q(spark, sf_dir):
    """Band statistics + GDALChecksumImage (alg/gdalchecksum.cpp:48-260)
    value-oracled end to end in one gate: decode the (real, zlib) PNG
    bytes, compute min/max/mean/std of band 1 and the position-weighted
    modular checksum of all three bands; DuckDB derives the same numbers
    from the closed-form pixel cycle — gates the codec, the stats kernel,
    AND the checksum aggregate (the former checksum_png slot, folded in to
    stay under the 50-query grading cap)."""
    from .fixtures.images import images_df
    from .operators.imagemap import map_images
    from .oracle.checksum import checksum_image

    def stats(a, r):
        cs = checksum_image(a)
        yield dict(
            image_id=r.image_id,
            min1=int(a[..., 0].min()), max1=int(a[..., 0].max()),
            mean1=float(np.round(a[..., 0].mean(), 4)),
            std1=float(np.round(a[..., 0].std(), 4)),
            cs1=cs[0], cs2=cs[1], cs3=cs[2],
        )

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    return map_images(
        imgs.where(F.col("fmt") == "png"), ["image_id", "bytes"],
        "image_id string, min1 int, max1 int, mean1 double, std1 double, "
        "cs1 long, cs2 long, cs3 long", stats)


# GetHistogram bucket rule (gcore/gdalrasterband.cpp:4510): bucket =
# floor((v - min) * nBuckets / (max - min)).  Band 1 is the (x+y*w)%256
# cycle, so the corpus-merged histogram has a closed form: n = w*h pixels
# = c full 0..255 cycles plus a partial run of r, value v appears
# c + (v < r) times; the 64-bucket [0,256) spec bins 4 consecutive values
# per bucket -> 4c + clamp(r - 4b, 0, 4).
_BAND_HISTOGRAM_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
sums AS (
  SELECT (CAST(w AS BIGINT) * h) // 256 AS c,
         (CAST(w AS BIGINT) * h) % 256 AS r
  FROM meta
),
b256 AS (
  SELECT 'b256' AS spec, CAST(b.bucket AS INT) AS bucket,
         CAST(SUM(s.c + CASE WHEN b.bucket < s.r THEN 1 ELSE 0 END)
              AS BIGINT) AS cnt
  FROM sums s
  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket) b
  GROUP BY b.bucket
),
b64 AS (
  SELECT 'b64' AS spec, CAST(b.bucket AS INT) AS bucket,
         CAST(SUM(4 * s.c + LEAST(GREATEST(s.r - 4 * b.bucket, 0), 4))
              AS BIGINT) AS cnt
  FROM sums s
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) b
  GROUP BY b.bucket
)
SELECT * FROM b256 UNION ALL SELECT * FROM b64
"""


@q("band_histogram", _BAND_HISTOGRAM_SQL)
def band_histogram_q(spark, sf_dir):
    """GetHistogram (gcore/gdalrasterband.cpp:4224) corpus-merged, two
    specs in one gate: the uint8 default (256 buckets, [-0.5, 255.5),
    scale 1 — the :4613 fast path) and a generic 64-bucket [0, 256) spec
    (the :4510 general bucket rule); DuckDB replays both from the
    closed-form pixel cycle."""
    from .fixtures.images import images_df
    from .operators.rasterops import band_histogram

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).filter(
        F.col("fmt") == "png"
    )
    b256 = band_histogram(imgs, merge=True).withColumn("spec", F.lit("b256"))
    b64 = band_histogram(
        imgs, dmin=0.0, dmax=256.0, n_buckets=64, merge=True
    ).withColumn("spec", F.lit("b64"))
    return b256.unionByName(b64).select(
        "spec",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    )


# translate -expand rgb|rgba|gray over a REAL paletted PNG (color type 3 +
# PLTE, frmts/png + gdal_translate_lib.cpp -expand): index band is
# (flat*3) % 251, palette channel c_k(j) are affine cycles, so every
# expanded band value — and hence its GDALChecksumImage — replays in SQL.
_EXPAND_PALETTE_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 9)) AS a)
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
px AS (
  SELECT m.i, CAST(k.a AS BIGINT) AS flat,
         (CAST(k.a AS BIGINT) * 3) % 251 AS j
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
),
bands AS (
  SELECT p.i, p.flat, CAST(b.band AS INT) AS band,
         CASE b.band WHEN 1 THEN (7 * p.j + 1) % 256
                     WHEN 2 THEN (13 * p.j + 5) % 256
                     WHEN 3 THEN (29 * p.j + 11) % 256
                     ELSE 255 END AS v
  FROM px p, (SELECT unnest(generate_series(1, 4)) AS band) b
),
cs_tab AS (
  SELECT i, band,
         CAST(SUM(v % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs
  FROM bands
  GROUP BY i, band
)
SELECT printf('pal%08d', i) AS image_id, 'rgb' AS mode, band, cs
FROM cs_tab WHERE band <= 3
UNION ALL
SELECT printf('pal%08d', i), 'rgba', band, cs FROM cs_tab
UNION ALL
SELECT printf('pal%08d', i), 'gray', 1, cs FROM cs_tab WHERE band = 1
"""


@q("translate_expand_palette", _EXPAND_PALETTE_SQL)
def translate_expand_palette_q(spark, sf_dir):
    """-expand through a real color table (gdal_translate_lib.cpp -expand
    over frmts/png PLTE): paletted fixtures expand to rgb / rgba / gray and
    every output band checksum is value-gated against the closed-form
    palette cycles."""
    from .fixtures.images import paletted_images_df
    from .operators.imagemap import map_images
    from .operators.rasterops import translate
    from .oracle.checksum import checksum_image

    imgs = paletted_images_df(spark, 10)

    def cs_rows(mode):
        def per_image(a, r):
            if a.ndim == 2:
                a = a[:, :, None]
            for b in range(a.shape[2]):
                yield dict(
                    image_id=r.image_id, mode=mode, band=b + 1,
                    cs=checksum_image(a[:, :, b])[0],
                )
        return per_image

    parts = [
        map_images(translate(imgs, expand=m), ["image_id", "bytes"],
                   "image_id string, mode string, band int, cs long",
                   cs_rows(m))
        for m in ("rgb", "rgba", "gray")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# gdalbuildvrt placement rules (apps/gdalbuildvrt_lib.cpp): last-wins
# compositing (later sources on top, srcnodata transparent, dstnodata
# where nothing valid lands), mean-blend extension, and -separate band
# stacking — over synthetic raw tiles whose per-source pixel values are
# closed forms, so the merged checksums replay pixel-exactly in SQL.
_MOSAIC_PLACEMENT_SQL = f"""
WITH tiles AS (
  SELECT CAST(a AS BIGINT) AS t, CAST(a % 2 AS INT) AS x,
         CAST(a // 2 AS INT) AS y
  FROM (SELECT unnest(generate_series(0, 3)) AS a)
),
px AS (
  SELECT t.t, t.x, t.y, CAST(k.a AS BIGINT) AS flat
  FROM tiles t, LATERAL (
    SELECT unnest(generate_series(0, 65535)) AS a) k
),
vals AS (
  SELECT t, x, y, flat,
    CASE WHEN (flat + 0 + t) % 5 = 0 THEN 255
         ELSE (flat * 3 + 11 * t) % 255 END AS v0,
    CASE WHEN (flat + 1 + t) % 5 = 0 THEN 255
         ELSE (flat * 4 + 11 * t) % 255 END AS v1,
    CASE WHEN (flat + 2 + t) % 5 = 0 THEN 255
         ELSE (flat * 5 + 11 * t) % 255 END AS v2
  FROM px
),
merged AS (
  SELECT x, y, flat, v0, v1, v2,
    COALESCE(NULLIF(v2, 255), NULLIF(v1, 255), NULLIF(v0, 255), 255)
      AS vlast,
    CASE WHEN v0 = 255 AND v1 = 255 AND v2 = 255 THEN 255
         ELSE CAST(FLOOR(
           (CASE WHEN v0 = 255 THEN 0 ELSE v0 END
            + CASE WHEN v1 = 255 THEN 0 ELSE v1 END
            + CASE WHEN v2 = 255 THEN 0 ELSE v2 END) * 1.0
           / (CAST(v0 <> 255 AS INT) + CAST(v1 <> 255 AS INT)
              + CAST(v2 <> 255 AS INT)) + 0.5) AS BIGINT) END AS vmean
  FROM vals
)
SELECT 'last' AS mode, x, y, 0 AS band,
       CAST(SUM(vlast % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT)
         AS cs
FROM merged GROUP BY x, y
UNION ALL
SELECT 'mean', x, y, 0,
       CAST(SUM(vmean % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT)
FROM merged GROUP BY x, y
UNION ALL
SELECT 'separate', x, y, b.band,
       CAST(SUM(CASE b.band WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v2 END
                % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT)
FROM merged, (SELECT CAST(unnest(generate_series(1, 3)) AS INT) AS band) b
GROUP BY x, y, b.band
"""


@q("mosaic_placement", _MOSAIC_PLACEMENT_SQL)
def mosaic_placement_q(spark, sf_dir):
    """gdalbuildvrt placement value-gated: per-pixel last-wins with
    srcnodata transparency (apps/gdalbuildvrt_lib.cpp source ordering),
    the mean-blend extension, and -separate band stacking, each checksum
    replayed from the closed-form source pixels."""
    from .operators.rasterops import mosaic_merge, mosaic_separate
    from .operators.tiling import TILE_COLUMNS, TILE_SCHEMA, _tile_row

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                k, t = int(i) % 3, int(i) // 3
                flat = np.arange(65536, dtype=np.int64)
                v = np.where((flat + k + t) % 5 == 0, 255,
                             (flat * (k + 3) + 11 * t) % 255)
                rows.append(_tile_row(
                    f"src{k}", 5, t % 2, t // 2,
                    v.astype(np.uint8).reshape(256, 256), codec="raw"))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    src = spark.range(0, 12, 1, 8).mapInPandas(gen, schema=TILE_SCHEMA)
    out_cols = ["mode", "x", "y", "band", "cs"]
    last = mosaic_merge(src, "last", src_nodata=255, dst_nodata=255).select(
        F.lit("last").alias("mode"), "x", "y",
        F.lit(0).alias("band"), F.col("cs1").alias("cs"))
    mean = mosaic_merge(src, "mean", src_nodata=255, dst_nodata=255).select(
        F.lit("mean").alias("mode"), "x", "y",
        F.lit(0).alias("band"), F.col("cs1").alias("cs"))
    sep = mosaic_separate(src).select(
        F.lit("separate").alias("mode"), "x", "y", "band",
        F.col("cs1").alias("cs"))
    return last.unionByName(mean).unionByName(sep).select(*out_cols)


# Pyramid STRUCTURE oracle: every (image, z, x, y) key of the full tile
# pyramid, rebuilt in DuckDB — image centers/sizes from the fixture
# arithmetic, native zoom fixed by the gsd cycle, base tile ranges via the
# shared template tile math, overview levels by recursive halving.
_PYRAMID_KEYS_SQL = f"""
WITH RECURSIVE idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0
               WHEN 2 THEN 100.0 ELSE 500.0 END AS gsd,
    CASE i % 4 WHEN 0 THEN 13 WHEN 1 THEN 11
               WHEN 2 THEN 10 ELSE 8 END AS nz,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v
  FROM idx
),
ctr AS (
  SELECT i, w, h, gsd, nz,
    {T.sql_mx("CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0 ELSE u * 360.0 - 180.0 END")} AS mx,
    {T.sql_my("CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0 ELSE (v * 2.0 - 1.0) * 85.05 END")} AS my
  FROM meta
),
bb AS (
  SELECT i, nz,
         mx - w * gsd / 2.0 AS bminx, my - h * gsd / 2.0 AS bminy,
         mx + w * gsd / 2.0 AS bmaxx, my + h * gsd / 2.0 AS bmaxy
  FROM ctr
),
rng AS (
  SELECT i, nz,
    {T._clamped(T.sql_pixels_to_tile(T.sql_px('bminx', 'nz')), 'nz')} AS tminx,
    {T._clamped(T.sql_pixels_to_tile(T.sql_px('bminy', 'nz')), 'nz')} AS tminy,
    {T._clamped(T.sql_pixels_to_tile(T.sql_px('bmaxx', 'nz')), 'nz')} AS tmaxx,
    {T._clamped(T.sql_pixels_to_tile(T.sql_px('bmaxy', 'nz')), 'nz')} AS tmaxy
  FROM bb
),
base AS (
  SELECT r.i, r.nz AS z, CAST(xs.a AS BIGINT) AS x, CAST(ys.a AS BIGINT) AS y
  FROM rng r,
       LATERAL (SELECT unnest(generate_series(r.tminx, r.tmaxx)) AS a) xs,
       LATERAL (SELECT unnest(generate_series(r.tminy, r.tmaxy)) AS a) ys
),
pyr AS (
  SELECT i, z, x, y FROM base
  UNION
  SELECT i, z - 1, x // 2, y // 2 FROM pyr WHERE z > 8
)
SELECT printf('img%08d', i) AS image_id, z, x, y FROM pyr
"""


@q("pyramid_keys", _PYRAMID_KEYS_SQL)
def pyramid_keys_q(spark, sf_dir):
    """The FULL pyramid key set (every image x level x tile) value-gated:
    DuckDB rebuilds native zooms, base tile ranges (ceil-1 convention,
    geo bounds from the fixture arithmetic) and the overview halving chain
    with a recursive CTE; any drift in tile assignment or the reduction
    keys breaks the hash."""
    from .fixtures.images import images_df
    from .operators.tiling import build_tile_pyramid

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    return build_tile_pyramid(imgs, tminz=8, codec=None).select(
        "image_id", F.col("z").cast("long").alias("z"),
        F.col("x").cast("long").alias("x"), F.col("y").cast("long").alias("y"),
    )


# COG container round-trip + windowed-read oracle (merged per round-3
# VERDICT #4 so every distinct oracle fits the driver's 50-slot cap):
# overview count is a pure function of the fixture W/H cycles ((257,300)
# and (512,512) need one 2x reduction to fit a 256 tile; everything else
# none), the writer must be lossless + obey the COG layout rules, and the
# (250,250)+40x16 window touches 4 tiles exactly on the 2x2-tiled sizes —
# all derivable in SQL.  Round-5 modes: the same image round-trips through
# a plain STRIPED baseline TIFF (RowsPerStrip=16, the gdal_translate
# default layout), and the same window must touch exactly the strips its
# row range covers (16-row strips: 2 when the window straddles row 256's
# strip boundary on the tall cycles, else 1).
_COG_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
)
SELECT printf('img%08d', i) AS image_id,
       CASE WHEN i % 5 IN (3, 4) THEN 2 ELSE 1 END AS n_ifds,
       TRUE AS lossless,
       TRUE AS cog_layout,
       TRUE AS window_ok,
       CASE WHEN i % 5 IN (3, 4) THEN 4 ELSE 1 END AS tiles_touched,
       TRUE AS strip_lossless,
       TRUE AS strip_window_ok,
       CASE WHEN i % 5 IN (3, 4) THEN 2 ELSE 1 END AS strips_touched
FROM idx
"""


@q("cog_roundtrip", _COG_SQL)
def cog_roundtrip_q(spark, sf_dir):
    """COG container sink (frmts/gtiff/cogdriver.cpp rules re-derived in
    codecs/cog.py) + RasterIO WINDOWED read (gcore/rasterio.cpp block
    intersection): encode every image as a tiled GeoTIFF with internal
    overviews, decode it back, verify pixel equality + head-IFD/
    overview-first layout, then decode only the tiles a
    boundary-straddling window touches and check the slice equals the
    full decode's; DuckDB oracles the expected IFD count, the touched-
    tile count per size cycle, and the invariants.  Striped mode
    (round 5): the same pixels round-trip through a plain RowsPerStrip
    baseline TIFF (frmts/gtiff/gtiffdataset.cpp:1566 strip chunking) and
    the same window reads exactly the strips its rows cover."""
    from .codecs.cog import (decode_cog, decode_cog_window, encode_cog,
                             encode_striped_tiff, is_cog_layout)
    from .fixtures.images import images_df
    from .operators.imagemap import map_images
    from .oracle.tiling import geotransform_3857

    def rt(a, r):
        gt = geotransform_3857(r.lon, r.lat, a.shape[1], a.shape[0],
                               r.gsd_m)
        blob = encode_cog(a, gt)
        back, nifd, gt2 = decode_cog(blob)
        h, w = a.shape[0], a.shape[1]
        # window straddling the first tile boundary when possible
        x0 = max(0, min(w - 2, 250))
        y0 = max(0, min(h - 2, 250))
        ww = min(40, w - x0)
        hh = min(16, h - y0)
        win, ntiles = decode_cog_window(blob, x0, y0, ww, hh)
        exp = a[y0 : y0 + hh, x0 : x0 + ww]
        sblob = encode_striped_tiff(a, gt, rows_per_strip=16)
        sback, _, sgt = decode_cog(sblob)
        swin, nstrips = decode_cog_window(sblob, x0, y0, ww, hh)
        yield dict(
            image_id=r.image_id, n_ifds=int(nifd),
            lossless=bool((back == a).all() and gt2 == gt),
            cog_layout=bool(is_cog_layout(blob)),
            window_ok=bool((win == exp).all()),
            tiles_touched=int(ntiles),
            strip_lossless=bool((sback == a).all() and sgt == gt),
            strip_window_ok=bool((swin == exp).all()),
            strips_touched=int(nstrips),
        )

    return map_images(
        images_df(spark, min(_images_n(sf_dir), 60)),
        ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, n_ifds int, lossless boolean, cog_layout boolean, "
        "window_ok boolean, tiles_touched int, strip_lossless boolean, "
        "strip_window_ok boolean, strips_touched int", rt)


# caption byte-equality as a VALUE oracle (the input_hint gate): captions
# and center-tile keys derive from the row index by double arithmetic that
# both engines execute identically, so DuckDB rebuilds the exact strings
# and tile keys from generate_series.
_WORDS_SQL = ", ".join(
    f"'{w}'" for w in (
        "satellite aerial ortho scene tile mosaic cloud shadow field river "
        "road city forest coast desert snow urban rural harbor island bridge "
        "valley ridge delta plateau lagoon glacier dune canyon reef marsh"
    ).split()
)

_CAPTION_TILE_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
),
meta AS (
  SELECT i,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v,
    CAST(floor((i * 5.69840290998053223e-01
                - floor(i * 5.69840290998053223e-01)) * 31) AS BIGINT) AS wi
  FROM idx
),
pts AS (
  SELECT i, wi,
    CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0
         ELSE u * 360.0 - 180.0 END AS lon,
    CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0
         ELSE (v * 2.0 - 1.0) * 85.05 END AS lat
  FROM meta
),
words(wlist) AS (SELECT [{_WORDS_SQL}])
SELECT printf('img%08d', p.i) AS image_id,
       'caption ' || p.i || ' ' || w.wlist[CAST(p.wi AS INTEGER) + 1]
         || ' ' || w.wlist[CAST((p.wi + 7) % 31 AS INTEGER) + 1]
         || ' ' || w.wlist[CAST((p.wi * 3 + 1) % 31 AS INTEGER) + 1]
         AS caption,
       {T.sql_tile_x('lon', '7')} AS tx,
       {T.sql_tile_y_tms('lat', '7')} AS ty
FROM pts p CROSS JOIN words w
"""


@q("caption_tile_oracle", _CAPTION_TILE_SQL)
def caption_tile_oracle_q(spark, sf_dir):
    """Caption BYTE-EQUALITY value gate (input_hint: captions preserved
    byte-identical) + center-tile assignment of every image: the Spark side
    reads the fixture table, DuckDB rebuilds caption strings and z7 tile
    keys from the deterministic index arithmetic — any caption corruption
    or tile-math drift breaks the hash."""
    from .functions import cells as C
    from .fixtures.images import images_df

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    return imgs.select(
        "image_id", "caption",
        C.tile_x("lon", "7").alias("tx"),
        C.tile_y_tms("lat", "7").alias("ty"),
    )


# Audio features value oracle: the FAKA PCM formula
# s[k] = (((k*37 + 13*i) % 256) - 128) * 64 replays verbatim in SQL over
# generate_series — mean, RMS, peak, and lag-based zero crossings exact.
_AUDIO_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i FROM (SELECT unnest(generate_series(0, 59)) AS a)
),
meta AS (
  SELECT i,
         CASE WHEN i % 2 = 0 THEN 8000 ELSE 16000 END AS sr,
         1000 + (i % 7) * 500 AS n
  FROM idx
),
pcm AS (
  SELECT m.i, m.sr, m.n, CAST(k.a AS BIGINT) AS k,
         ((((CAST(k.a AS BIGINT) * 37 + 13 * m.i) % 256) - 128) * 64) AS s
  FROM meta m, LATERAL (SELECT unnest(generate_series(0, m.n - 1)) AS a) k
),
lagged AS (
  SELECT i, sr, n, s,
         LAG(s) OVER (PARTITION BY i ORDER BY k) AS sp
  FROM pcm
)
SELECT printf('med%06d', i) AS media_id,
       ROUND(CAST(n AS DOUBLE) / sr, 6) AS duration_s,
       ROUND(SUM(CAST(s AS DOUBLE)) / n, 6) AS mean_amp,
       ROUND(sqrt(SUM(CAST(s AS DOUBLE) * s) / n), 6) AS rms,
       CAST(MAX(abs(s)) AS INTEGER) AS peak,
       CAST(SUM(CASE WHEN sp IS NOT NULL AND ((sp < 0 AND s >= 0)
                 OR (sp >= 0 AND s < 0)) THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings
FROM lagged
GROUP BY i, sr, n
"""


@q("audio_features", _AUDIO_SQL)
def audio_features_q(spark, sf_dir):
    """Audio multimodal column: decode PCM inside Arrow batches and emit
    duration/mean/RMS/peak/zero-crossings — DuckDB replays the payload
    formula sample by sample (the swap-in point for a real audio codec
    leaves this Spark plumbing untouched)."""
    from .fixtures.media import media_df
    from .operators.media import audio_features

    return audio_features(media_df(spark, 60))


# Video frame sampling oracle: frame f's pixels are (k + 7f + i) % 256 over
# the flat index — the per-frame mean replays with one series per frame.
_VIDEO_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i FROM (SELECT unnest(generate_series(0, 39)) AS a)
),
meta AS (
  SELECT i,
         CASE WHEN i % 2 = 0 THEN 32 ELSE 64 END AS w,
         CASE WHEN i % 2 = 0 THEN 24 ELSE 48 END AS h,
         10 + (i % 11) AS nf,
         CASE WHEN i % 2 = 0 THEN 5 ELSE 10 END AS fps
  FROM idx
),
frames AS (
  SELECT m.*, CAST(f.a AS BIGINT) AS fi
  FROM meta m, LATERAL (SELECT unnest(generate_series(0, m.nf - 1, 5)) AS a) f
),
px AS (
  SELECT fr.i, fr.fi, fr.fps, fr.w, fr.h,
         ((CAST(k.a AS BIGINT) + 7 * fr.fi + fr.i) % 256) AS v
  FROM frames fr,
       LATERAL (SELECT unnest(generate_series(0, fr.w * fr.h - 1)) AS a) k
)
SELECT printf('med%06d', i) AS media_id,
       CAST(fi AS INTEGER) AS frame_idx,
       ROUND(CAST(fi AS DOUBLE) / fps, 6) AS t_sec,
       ROUND(SUM(CAST(v AS DOUBLE)) / (w * h), 6) AS fmean
FROM px
GROUP BY i, fi, fps, w, h
"""


@q("video_frames", _VIDEO_SQL)
def video_frames_q(spark, sf_dir):
    """Video multimodal column: explode each clip to one row per sampled
    frame (every 5th; frame-addressable decode — whole videos never
    materialize), per-frame means value-gated by the payload formula."""
    from .fixtures.media import media_df
    from .operators.media import video_frame_sample

    return video_frame_sample(media_df(spark, 40), every_n=5).select(
        "media_id", "frame_idx", "t_sec", "fmean"
    )


# ---------------------------------------------------------------------------
# Layer algebra (ogrlayer.cpp Intersection/Erase/Identity) + raster operators
# ---------------------------------------------------------------------------

from .sql.geoviews import CUSTOMER_RECTS_TEMPLATE, SUPPLIER_RECTS_TEMPLATE

_CUSTOMER_RECTS = CUSTOMER_RECTS_TEMPLATE.format(
    MX=T.sql_mx("lon"), MY=T.sql_my("lat")
)
_SUPPLIER_RECTS = SUPPLIER_RECTS_TEMPLATE.format(
    MX=T.sql_mx("lon"), MY=T.sql_my("lat")
)

_RECT_INTERSECTION_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{SUPPLIER_POINTS_CTE.strip()},
{_CUSTOMER_RECTS.strip()},
{_SUPPLIER_RECTS.strip()}
SELECT a.aid, b.bid,
       greatest(a.minx, b.minx) AS minx,
       greatest(a.miny, b.miny) AS miny,
       least(a.maxx, b.maxx) AS maxx,
       least(a.maxy, b.maxy) AS maxy
FROM customer_rects a JOIN supplier_rects b
  ON a.minx < b.maxx AND a.maxx > b.minx
 AND a.miny < b.maxy AND a.maxy > b.miny
"""


def _rect_layers(spark):
    a = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()}, {_CUSTOMER_RECTS.strip()} "
        "SELECT * FROM customer_rects"
    )
    b = spark.sql(
        f"WITH {SUPPLIER_POINTS_CTE.strip()}, {_SUPPLIER_RECTS.strip()} "
        "SELECT * FROM supplier_rects"
    )
    return a, b


@q("rect_intersection", _RECT_INTERSECTION_SQL)
def rect_intersection(spark, sf_dir):
    """Layer algebra Intersection (ogrlayer.cpp:5385) via covering-cell
    candidates; closed-form rectangle overlay, zero UDF."""
    from .operators.layer_algebra import intersection

    register_tpch_views(spark, sf_dir)
    a, b = _rect_layers(spark)
    return intersection(a, b)


# gdaldem hillshade value oracle: Horn gradients are exact rationals of
# the closed-form pixels, the transcendental shade chain (atan/sqrt/
# sin/cos/atan2) runs in the same libm on both sides, and the uint8
# quantize + checksum are integer-exact.
# gdaldem color-relief replay (apps/gdaldem_lib.cpp GDALColorReliefProcess),
# round-5 fold into the hillshade slot: the fixed 5-entry ramp of
# dem_metrics, all three color-selection modes, uint8 = clip(floor(v+0.5))
# in numpy's clip-after-round order.  Validated exhaustively over every
# e in 0..255 against the numpy kernel before wiring.
_RELIEF_E = (0.0, 64.0, 128.0, 192.0, 255.0)
_RELIEF_RGB = ((0.0, 0.0, 128.0), (0.0, 128.0, 255.0), (0.0, 255.0, 0.0),
               (255.0, 255.0, 0.0), (255.0, 255.0, 255.0))


def _relief_u8(v: str) -> str:
    return f"CAST(least(greatest(floor({v} + 0.5), 0.0), 255.0) AS BIGINT)"


def _relief_mode_cols() -> str:
    xs = _RELIEF_E
    cols = []
    for b in range(3):
        ys = [c[b] for c in _RELIEF_RGB]
        seg = " ".join(
            f"WHEN e <= {xs[j + 1]!r} THEN ({ys[j + 1]!r} - {ys[j]!r})"
            f" / ({xs[j + 1]!r} - {xs[j]!r}) * (e - {xs[j]!r}) + {ys[j]!r}"
            for j in range(4))
        cols.append(_relief_u8(f"CASE {seg} ELSE {ys[4]!r} END")
                    + f" AS ri{b}")
        # nearest entry, first-wins ties (argmin): integer midpoints
        near = (f"CASE WHEN e <= 32 THEN {ys[0]!r} WHEN e <= 96 THEN {ys[1]!r}"
                f" WHEN e <= 160 THEN {ys[2]!r} WHEN e <= 223 THEN {ys[3]!r}"
                f" ELSE {ys[4]!r} END")
        cols.append(_relief_u8(near) + f" AS rn{b}")
        ex = ("CASE " + " ".join(
            f"WHEN e = {x!r} THEN {ys[j]!r}" for j, x in enumerate(xs))
            + " ELSE 0.0 END")
        cols.append(_relief_u8(ex) + f" AS re{b}")
    return ",\n    ".join(cols)


def _relief_mode_selects() -> str:
    out = []
    for mode, p in (("relief_interp", "ri"), ("relief_nearest", "rn"),
                    ("relief_exact", "re")):
        out.append(f"""
UNION ALL
SELECT '{mode}', printf('img%08d', i),
       CAST(SUM({p}0 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT),
       CAST(MIN(least({p}0, {p}1, {p}2)) AS DOUBLE),
       CAST(MAX(greatest({p}0, {p}1, {p}2)) AS DOUBLE)
FROM relief GROUP BY i""")
    return "".join(out)


def _hillshade_sql() -> str:
    az = float(np.radians(360.0 - 315.0 + 90.0))
    sin_alt = float(np.sin(np.radians(45.0)))
    cos_alt = float(np.cos(np.radians(45.0)))
    d = T._d

    def V(dx, dy):
        return (f"CAST((least(greatest(x + ({dx}), 0), w - 1)"
                f" + least(greatest(y + ({dy}), 0), h - 1) * w) % 256"
                f" AS DOUBLE)")

    return f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0 AND a % 5 IN (0, 1, 2)
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 ELSE 256 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 ELSE 256 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0 WHEN 2 THEN 100.0
               ELSE 500.0 END AS gsd
  FROM idx
),
px AS (
  SELECT m.i, m.w, m.h, m.gsd, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % m.w AS x,
         CAST(k.a AS BIGINT) // m.w AS y
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
),
grad AS (
  SELECT i, flat,
    ((({V(1, -1)} + 2 * {V(1, 0)}) + {V(1, 1)})
     - (({V(-1, -1)} + 2 * {V(-1, 0)}) + {V(-1, 1)})) / (8.0 * gsd) AS dzdx,
    ((({V(-1, 1)} + 2 * {V(0, 1)}) + {V(1, 1)})
     - (({V(-1, -1)} + 2 * {V(0, -1)}) + {V(1, -1)})) / (8.0 * gsd) AS dzdy
  FROM px
),
shade AS (
  SELECT i, flat,
    {d(sin_alt)} * cos(atan(sqrt(dzdx * dzdx + dzdy * dzdy)))
    + {d(cos_alt)} * sin(atan(sqrt(dzdx * dzdx + dzdy * dzdy)))
      * cos({d(az)} - atan2(dzdy, -dzdx)) AS s
  FROM grad
),
v AS (
  SELECT i, flat,
    CAST(floor(least(greatest(1.0 + 254.0 * greatest(s, 0.0e0), 1.0),
               255.0)) AS BIGINT) AS hv
  FROM shade
),
relief AS (
  SELECT i, flat, {_relief_mode_cols()}
  FROM (SELECT i, flat, CAST(flat % 256 AS DOUBLE) AS e FROM px)
)
SELECT 'hillshade' AS mode, printf('img%08d', i) AS image_id,
       CAST(SUM(hv % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT)
         AS cs1,
       CAST(MIN(hv) AS DOUBLE) AS vmin, CAST(MAX(hv) AS DOUBLE) AS vmax
FROM v GROUP BY i
{_relief_mode_selects()}
"""


@q("hillshade_checksum", _hillshade_sql())
def hillshade_checksum_q(spark, sf_dir):
    """gdaldem suite VALUE-gated (round-5 fold): Horn hillshade
    (apps/gdaldem_lib.cpp:317-328 — decode -> gradients -> shade -> uint8
    quantize -> checksum) plus color-relief in all three color-selection
    modes (GDALColorReliefProcess: piecewise-linear interpolate,
    -nearest_color_entry, -exact_color_entry), each via the production
    dem_metrics operator with DuckDB replaying the whole per-pixel
    chain (R-band checksum + rgb min/max)."""
    from .fixtures.images import images_df
    from .operators.rasterops import dem_metrics

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        (F.col("fmt") == "png") & (F.col("w") <= 256))
    parts = []
    for mode, kw in (
            ("hillshade", {}),
            ("relief_interp",
             {"operation": "color-relief", "color_mode": "interpolate"}),
            ("relief_nearest",
             {"operation": "color-relief", "color_mode": "nearest"}),
            ("relief_exact",
             {"operation": "color-relief", "color_mode": "exact"})):
        parts.append(dem_metrics(imgs, **kw).select(
            F.lit(mode).alias("mode"), "image_id",
            F.col("cs").alias("cs1"), "vmin", "vmax"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Contour interval membership oracle: the operator's band pixel counts
# (after its nearest 64-decimation) are exact integer counts over the
# closed-form (possibly subsampled) pixel lattice.
_CONTOUR_PX_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
dims AS (
  SELECT i, w, h, least(w, 64) AS dw, least(h, 64) AS dh,
         (w > 64 OR h > 64) AS dec
  FROM meta
),
px AS (
  SELECT d.i,
    CASE WHEN d.dec THEN
      (least(greatest(CAST(floor((CAST(k.a AS BIGINT) % d.dw + 0.5)
                                 * (d.w / CAST(d.dw AS DOUBLE))) AS BIGINT),
                      0), d.w - 1)
       + least(greatest(CAST(floor((CAST(k.a AS BIGINT) // d.dw + 0.5)
                                   * (d.h / CAST(d.dh AS DOUBLE))) AS BIGINT),
                        0), d.h - 1) * d.w) % 256
    ELSE CAST(k.a AS BIGINT) % 256 END AS v
  FROM dims d, LATERAL (
    SELECT unnest(generate_series(0, d.dw * d.dh - 1)) AS a) k
),
banded AS (
  SELECT i,
    CASE WHEN v < 64 THEN 0 WHEN v < 128 THEN 1
         WHEN v < 192 THEN 2 ELSE 3 END AS band,
    v
  FROM px
)
SELECT printf('img%08d', i) AS image_id,
       CASE band WHEN 0 THEN NULL ELSE CAST(band * 64 AS DOUBLE) END
         AS level_min,
       CASE band WHEN 3 THEN NULL ELSE CAST((band + 1) * 64 AS DOUBLE) END
         AS level_max,
       CAST(COUNT(*) AS BIGINT) AS n_pixels
FROM banded
GROUP BY i, band
"""


@q("contour_band_pixels", _CONTOUR_PX_SQL)
def contour_band_pixels_q(spark, sf_dir):
    """gdal_contour -p interval membership VALUE-gated: the operator's
    per-band pixel counts (with its nearest 64-decimation) replayed
    exactly over the closed-form lattice — gates band boundaries and the
    decimation picks; the interpolated polygon geometry itself is pinned
    by the partition tests."""
    from .fixtures.images import images_df
    from .operators.rasterops import contour_polygons

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    return contour_polygons(imgs).select(
        "image_id", "level_min", "level_max", "n_pixels")


# Weighted-Brovey pansharpen value oracle: on ratio-divisible fixture
# sizes every step is exact or correctly-rounded double math — 4x4 block
# means (integer sums / 16), bilinear upsample (rational weights, half-up
# round to uint8), pseudo-pan weighted sum, pan/pseudo division, half-up
# quantize, checksum.
def _pansharpen_sql() -> str:
    w3 = T._d(1.0 / 3.0)
    return f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0 AND a % 5 IN (0, 1)
),
meta AS (
  SELECT i, CASE i % 5 WHEN 0 THEN 20 ELSE 64 END AS w FROM idx
),
lo AS (
  SELECT m.i, m.w, CAST(c.a AS BIGINT) % (m.w // 4) AS lx,
         CAST(c.a AS BIGINT) // (m.w // 4) AS ly,
         CAST(floor(SUM(((4 * (CAST(c.a AS BIGINT) % (m.w // 4))
                          + CAST(k.a AS BIGINT) % 4)
                         + (4 * (CAST(c.a AS BIGINT) // (m.w // 4))
                            + CAST(k.a AS BIGINT) // 4) * m.w) % 256)
                    / 16.0 + 0.5) AS BIGINT) AS s1,
         CAST(floor(SUM((3 * (4 * (CAST(c.a AS BIGINT) % (m.w // 4))
                              + CAST(k.a AS BIGINT) % 4)) % 256)
                    / 16.0 + 0.5) AS BIGINT) AS s2,
         CAST(floor(SUM((7 * (4 * (CAST(c.a AS BIGINT) // (m.w // 4))
                              + CAST(k.a AS BIGINT) // 4)) % 256)
                    / 16.0 + 0.5) AS BIGINT) AS s3
  FROM meta m,
       LATERAL (SELECT unnest(generate_series(0, (m.w // 4) * (m.w // 4) - 1))
                AS a) c,
       LATERAL (SELECT unnest(generate_series(0, 15)) AS a) k
  GROUP BY m.i, m.w, c.a
),
px AS (
  SELECT m.i, m.w, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % m.w AS x, CAST(k.a AS BIGINT) // m.w AS y,
         (CAST(k.a AS BIGINT) % m.w + 0.5)
           * ((m.w // 4) / CAST(m.w AS DOUBLE)) - 0.5 AS fx,
         (CAST(k.a AS BIGINT) // m.w + 0.5)
           * ((m.w // 4) / CAST(m.w AS DOUBLE)) - 0.5 AS fy
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.w - 1)) AS a) k
),
crd AS (
  SELECT i, w, flat, x, y, fx, fy,
         least(greatest(CAST(floor(fx) AS BIGINT), 0), w // 4 - 1) AS x0,
         least(greatest(CAST(floor(fy) AS BIGINT), 0), w // 4 - 1) AS y0
  FROM px
),
crd2 AS (
  SELECT i, w, flat, x, y,
         x0, least(x0 + 1, w // 4 - 1) AS x1,
         y0, least(y0 + 1, w // 4 - 1) AS y1,
         least(greatest(fx - x0, 0.0e0), 1.0) AS wx,
         least(greatest(fy - y0, 0.0e0), 1.0) AS wy
  FROM crd
),
up AS (
  SELECT c.i, c.w, c.flat, c.x, c.y,
    least(greatest(CAST(floor(
      (CAST(l00.s1 AS DOUBLE) * (1 - c.wx) + l01.s1 * c.wx) * (1 - c.wy)
      + (CAST(l10.s1 AS DOUBLE) * (1 - c.wx) + l11.s1 * c.wx) * c.wy
      + 0.5) AS BIGINT), 0), 255) AS u1,
    least(greatest(CAST(floor(
      (CAST(l00.s2 AS DOUBLE) * (1 - c.wx) + l01.s2 * c.wx) * (1 - c.wy)
      + (CAST(l10.s2 AS DOUBLE) * (1 - c.wx) + l11.s2 * c.wx) * c.wy
      + 0.5) AS BIGINT), 0), 255) AS u2,
    least(greatest(CAST(floor(
      (CAST(l00.s3 AS DOUBLE) * (1 - c.wx) + l01.s3 * c.wx) * (1 - c.wy)
      + (CAST(l10.s3 AS DOUBLE) * (1 - c.wx) + l11.s3 * c.wx) * c.wy
      + 0.5) AS BIGINT), 0), 255) AS u3
  FROM crd2 c
  JOIN lo l00 ON l00.i = c.i AND l00.ly = c.y0 AND l00.lx = c.x0
  JOIN lo l01 ON l01.i = c.i AND l01.ly = c.y0 AND l01.lx = c.x1
  JOIN lo l10 ON l10.i = c.i AND l10.ly = c.y1 AND l10.lx = c.x0
  JOIN lo l11 ON l11.i = c.i AND l11.ly = c.y1 AND l11.lx = c.x1
),
fused AS (
  SELECT i, flat,
    CASE WHEN pseudo <> 0 THEN
      least(greatest(CAST(floor(u1 * (pan / pseudo) + 0.5) AS BIGINT),
                     0), 255)
    ELSE 0 END AS f1,
    CASE WHEN pseudo <> 0 THEN
      least(greatest(CAST(floor(u2 * (pan / pseudo) + 0.5) AS BIGINT),
                     0), 255)
    ELSE 0 END AS f2,
    CASE WHEN pseudo <> 0 THEN
      least(greatest(CAST(floor(u3 * (pan / pseudo) + 0.5) AS BIGINT),
                     0), 255)
    ELSE 0 END AS f3
  FROM (
    SELECT i, flat, u1, u2, u3,
      ((CAST((x + y * w) % 256 AS DOUBLE)
        + (3 * x) % 256) + (7 * y) % 256) / 3.0 AS pan,
      ((u1 * {w3} + u2 * {w3}) + u3 * {w3}) AS pseudo
    FROM up
  )
)
SELECT printf('img%08d', i) AS image_id,
       CAST(SUM(f1 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1,
       CAST(SUM(f2 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs2,
       CAST(SUM(f3 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs3
FROM fused
GROUP BY i
"""


@q("pansharpen_checksum", _pansharpen_sql())
def pansharpen_checksum_q(spark, sf_dir):
    """Weighted-Brovey pansharpen (alg/gdalpansharpen.cpp:592-635)
    VALUE-gated: the real operator's downsample -> bilinear upsample ->
    pseudo-pan ratio -> fuse -> checksum chain replayed exactly in DuckDB
    on ratio-divisible fixture sizes."""
    from .fixtures.images import images_df
    from .operators.rasterops import pansharpen

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        (F.col("fmt") == "png") & (F.col("w") <= 64))
    return pansharpen(imgs).select("image_id", "cs1", "cs2", "cs3")


# footprint value oracle: image metadata is pure integer-mod math over the
# row index (fixtures/images.py W/H/GSD cycles), so DuckDB can derive the
# exact expected n_valid and area from generate_series — a true value gate
# on decode + mask trace + polygon area (n fixed at 60 so the SQL text is
# scale-independent: _images_n >= 60 at every sf).
_FOOTPRINT_EXACT_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0
               WHEN 2 THEN 100.0 ELSE 500.0 END AS gsd
  FROM idx
)
SELECT printf('img%08d', i) AS image_id,
       CAST(w AS BIGINT) * h AS n_valid,
       ROUND(w * gsd * h * gsd, 1) AS area_m2
FROM meta
"""


@q("footprint_exact", _FOOTPRINT_EXACT_SQL)
def footprint_exact_q(spark, sf_dir):
    """Footprint with a VALUE oracle: threshold=-1 makes every pixel valid,
    so the traced polygon must cover exactly w*h pixels with area
    w*gsd*h*gsd (decimation divides by 64 = 2^6, exact in binary) — DuckDB
    derives both from the deterministic metadata cycles."""
    from .fixtures.images import images_df
    from .operators.rasterops import footprint

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    return footprint(imgs, threshold=-1).select(
        "image_id", "n_valid", F.round("area_m2", 1).alias("area_m2")
    )


# Zonal-stats value oracle: band-1 pixel values AND the pixel->zone
# mercator tile assignment are both closed-form, so DuckDB replays the
# whole aggregation per zone — count/min/max/variety exact ints, the
# histogram median rule ((lo+hi)/2 over cumulative counts), mode/minority
# with the smallest-value tie-break.
_ZONAL_Z = "5"
_ZONAL_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0 WHEN 2 THEN 100.0
               ELSE 500.0 END AS gsd
  FROM idx
),
pts AS (
  SELECT i, w, h, gsd,
    CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0
         ELSE u * 360.0 - 180.0 END AS lon,
    CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0
         ELSE (v * 2.0 - 1.0) * 85.05 END AS lat
  FROM meta
),
gt AS (
  SELECT i, w, h, gsd,
         {T.sql_mx('lon')} - w * gsd / 2.0 AS gt0,
         {T.sql_my('lat')} + h * gsd / 2.0 AS gt3
  FROM pts
),
px AS (
  SELECT g.i, g.w,
         CAST(k.a AS BIGINT) % g.w AS x,
         CAST(k.a AS BIGINT) // g.w AS y,
         CAST(k.a AS BIGINT) % 256 AS val,
         g.gt0 + (CAST(k.a AS BIGINT) % g.w + 0.5) * g.gsd AS mx,
         g.gt3 + (CAST(k.a AS BIGINT) // g.w + 0.5) * (-g.gsd) AS my
  FROM gt g, LATERAL (
    SELECT unnest(generate_series(0, g.w * g.h - 1)) AS a) k
),
zones AS (
  SELECT val,
    {T._clamped(T.sql_pixels_to_tile(T.sql_px('mx', _ZONAL_Z)), _ZONAL_Z)}
      * 4294967296
    + {T._clamped(T.sql_pixels_to_tile(T.sql_px('my', _ZONAL_Z)), _ZONAL_Z)}
      AS zone
  FROM px
),
hist AS (
  SELECT zone, val, CAST(COUNT(*) AS BIGINT) AS c
  FROM zones GROUP BY zone, val
),
sel AS (
  SELECT zone, val, c,
         CAST(SUM(c) OVER (PARTITION BY zone ORDER BY val) AS BIGINT) AS csum,
         CAST(SUM(c) OVER (PARTITION BY zone) AS BIGINT) AS total,
         CAST(MAX(c) OVER (PARTITION BY zone) AS BIGINT) AS maxc,
         CAST(MIN(c) OVER (PARTITION BY zone) AS BIGINT) AS minc
  FROM hist
)
SELECT zone,
       CAST(MIN(total) AS BIGINT) AS pixel_count,
       CAST(MIN(val) AS INTEGER) AS zmin,
       CAST(MAX(val) AS INTEGER) AS zmax,
       CAST(MIN(CASE WHEN csum >= (total + 1) // 2 THEN val END)
            + MIN(CASE WHEN csum >= total // 2 + 1 THEN val END)
            AS DOUBLE) / 2.0 AS zmedian,
       CAST(MIN(CASE WHEN c = maxc THEN val END) AS INTEGER) AS zmode,
       CAST(MIN(CASE WHEN c = minc THEN val END) AS INTEGER) AS zminority,
       CAST(COUNT(*) AS INTEGER) AS zvariety
FROM sel
GROUP BY zone
"""


@q("zonal_stats_png", _ZONAL_SQL)
def zonal_stats_png_q(spark, sf_dir):
    """Zonal statistics VALUE-gated end to end (alg/zonal.cpp:361): the
    real two-phase operator (per-image histogram partials + one zone
    merge) against DuckDB replaying pixel values, the mercator pixel->
    zone assignment, and the exact order-statistic rules (histogram
    median, smallest-value mode/minority tie-break)."""
    from .fixtures.images import images_df
    from .operators.rasterops import zonal_stats

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    zs = zonal_stats(imgs, zone_zoom=5)
    return zs.select(
        "zone", "pixel_count",
        F.col("zmin").cast("int").alias("zmin"),
        F.col("zmax").cast("int").alias("zmax"),
        "zmedian", "zmode", "zminority", "zvariety",
    )


# translate -outsize + -projwin value oracle (merged per round-3 VERDICT
# #4 so every distinct oracle fits the driver's 50-slot cap).
# outsize part: nearest resample picks source pixel
# sy = clip(floor((oy+0.5)*(h/32)), 0, h-1) (oracle/resample._center_coords)
# and the checksum of the 32x32 band replays like checksum_png.
# projwin part: the snapped, extent-intersected window
# (gdal_translate_lib.cpp:981-1060 — size from the snapped ULX/ULY,
# out-of-bounds intersected, fully-outside dropped) replayed per image;
# cs1 = -1 sentinel keeps the column BIGINT on both engines.
_TPW = (250000.0, 7000000.0, 20000000.0, 5500000.0)  # cuts the hot cluster
_TRANSLATE_OUT_SQL_TMPL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
),
meta AS (
  SELECT i,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0 WHEN 2 THEN 100.0
               ELSE 500.0 END AS gsd
  FROM idx
),
opx AS (
  SELECT m.i, m.w, m.h, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % 32 AS ox,
         CAST(k.a AS BIGINT) // 32 AS oy
  FROM meta m, LATERAL (SELECT unnest(generate_series(0, 1023)) AS a) k
  WHERE m.i % 3 = 0
),
src AS (
  SELECT i, flat,
    least(greatest(CAST(floor((ox + 0.5) * (w / 32.0)) AS BIGINT),
                   0), w - 1) AS sx,
    least(greatest(CAST(floor((oy + 0.5) * (h / 32.0)) AS BIGINT),
                   0), h - 1) AS sy,
    w
  FROM opx
),
out_part AS (
  SELECT printf('img%08d', i) AS image_id, 'outsize' AS part,
         CAST(32 AS INTEGER) AS w2, CAST(32 AS INTEGER) AS h2,
         CAST(SUM(((sx + sy * w) % 256) % (@CS_PRIME@))
              % 65536 AS BIGINT) AS cs1
  FROM src
  GROUP BY i
),
pts AS (
  SELECT i, w, h, gsd,
    CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0
         ELSE u * 360.0 - 180.0 END AS lon,
    CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0
         ELSE (v * 2.0 - 1.0) * 85.05 END AS lat
  FROM meta
),
gt AS (
  SELECT i, w, h, gsd,
         @MX@ - w * gsd / 2.0 AS gt0,
         @MY@ + h * gsd / 2.0 AS gt3
  FROM pts
),
snap AS (
  SELECT i, w, h, gsd, gt0, gt3,
         CAST(floor((@PW0@ - gt0) / gsd + 0.001) AS BIGINT) AS xo,
         CAST(floor((@PW1@ - gt3) / (-gsd) + 0.001) AS BIGINT) AS yo
  FROM gt
),
win AS (
  SELECT i, w, h, xo, yo,
         CAST(ceil((@PW2@ - (gt0 + xo * gsd)) / gsd - 0.001)
              AS BIGINT) AS xs,
         CAST(ceil((@PW3@ - (gt3 + yo * (-gsd))) / (-gsd) - 0.001)
              AS BIGINT) AS ys
  FROM snap
),
clipped AS (
  SELECT i,
         greatest(0, xo) AS x0, least(xo + greatest(xs, 0), w) AS x1,
         greatest(0, yo) AS y0, least(yo + greatest(ys, 0), h) AS y1
  FROM win
),
pw_part AS (
  SELECT printf('img%08d', i) AS image_id, 'projwin' AS part,
         CAST(x1 - x0 AS INTEGER) AS w2,
         CAST(y1 - y0 AS INTEGER) AS h2,
         CAST(-1 AS BIGINT) AS cs1
  FROM clipped
  WHERE x1 > x0 AND y1 > y0
)
SELECT * FROM out_part UNION ALL SELECT * FROM pw_part
"""
_TRANSLATE_OUT_SQL = _TRANSLATE_OUT_SQL_TMPL
for _k, _v in {
    "@CS_PRIME@": _CS_PRIME.format(i="flat"),
    "@MX@": T.sql_mx("lon"), "@MY@": T.sql_my("lat"),
    "@PW0@": f"{_TPW[0]:.1f}", "@PW1@": f"{_TPW[1]:.1f}",
    "@PW2@": f"{_TPW[2]:.1f}", "@PW3@": f"{_TPW[3]:.1f}",
}.items():
    _TRANSLATE_OUT_SQL = _TRANSLATE_OUT_SQL.replace(_k, _v)


@q("translate_outsize_checksum", _TRANSLATE_OUT_SQL)
def translate_outsize_checksum_q(spark, sf_dir):
    """gdal_translate VALUE-gated, two option surfaces in one oracle:
    '-outsize 32 32' (decode -> nearest RasterIO resample -> checksum,
    DuckDB replaying the center-coord source-pixel picks and the checksum
    arithmetic, png images) and '-projwin' window geometry (the snapped,
    extent-intersected window of gdal_translate_lib.cpp:981-1060, all
    images; cs1 = -1 sentinel)."""
    from .fixtures.images import images_df
    from .operators.rasterops import translate

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    a = translate(imgs.where(F.col("fmt") == "png"),
                  outsize=(32, 32)).select(
        "image_id", F.lit("outsize").alias("part"), "w2", "h2", "cs1")
    b = translate(imgs, projwin=_TPW).select(
        "image_id", F.lit("projwin").alias("part"), "w2", "h2",
        F.lit(-1).cast("long").alias("cs1"))
    return a.unionByName(b)


# gdalwarp(nearest) value oracle: SuggestedWarpOutput bbox, dst pixel
# centers, inverse mercator, floor sampling, and the checksum are ALL
# IEEE-exact double chains both engines execute identically — the
# flagship warp operator value-gated end to end.
_WARP_CS_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0 WHEN 2 THEN 100.0
               ELSE 500.0 END AS gsd
  FROM idx
),
geo AS (
  SELECT i, w, h, gsd,
    {T.sql_mx("CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0 ELSE u * 360.0 - 180.0 END")}
      - w * gsd / 2.0 AS gt0,
    {T.sql_my("CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0 ELSE (v * 2.0 - 1.0) * 85.05 END")}
      + h * gsd / 2.0 AS gt3
  FROM meta
),
bbox AS (
  SELECT i, w, h, gsd, gt0, gt3,
    (gt0 / {T.ORIGIN_SHIFT}) * 180.0 AS minlon,
    ((gt0 + w * gsd) / {T.ORIGIN_SHIFT}) * 180.0 AS maxlon,
    180.0 / pi() * (2.0 * atan(exp((((gt3 + h * (-gsd))
      / {T.ORIGIN_SHIFT}) * 180.0) * pi() / 180.0)) - pi() / 2.0) AS minlat,
    180.0 / pi() * (2.0 * atan(exp(((gt3 / {T.ORIGIN_SHIFT}) * 180.0)
      * pi() / 180.0)) - pi() / 2.0) AS maxlat
  FROM geo
),
dst AS (
  SELECT i, w, h, gsd, gt0, gt3, minlon, maxlat,
    (maxlon - minlon) / w AS resx,
    (maxlat - minlat) / h AS resy
  FROM bbox
),
px AS (
  SELECT d.i, d.w, d.h, d.gsd, d.gt0, d.gt3,
         CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % d.w AS c,
         CAST(k.a AS BIGINT) // d.w AS r,
         d.minlon + (CAST(k.a AS BIGINT) % d.w + 0.5) * d.resx AS lonc,
         d.maxlat + (CAST(k.a AS BIGINT) // d.w + 0.5) * (-d.resy) AS latc
  FROM dst d, LATERAL (
    SELECT unnest(generate_series(0, d.w * d.h - 1)) AS a) k
),
smp AS (
  SELECT i, w, flat,
    CAST(floor(((lonc * {T.ORIGIN_SHIFT} / 180.0) - gt0) / gsd) AS BIGINT)
      AS ix,
    CAST(floor((((ln(tan((90.0 + latc) * pi() / 360.0)) / (pi() / 180.0))
      * {T.ORIGIN_SHIFT} / 180.0) - gt3) / (-gsd)) AS BIGINT) AS iy,
    h
  FROM px
),
vals AS (
  SELECT i, flat,
    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (ix + iy * w) % 256 ELSE 0 END AS v
  FROM smp
)
SELECT printf('img%08d', i) AS image_id,
       CAST(SUM(v % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1
FROM vals
GROUP BY i
"""


@q("warp_nearest_checksum", _WARP_CS_SQL)
def warp_nearest_checksum_q(spark, sf_dir):
    """gdalwarp EPSG:3857 -> 4326 (nearest) VALUE-gated end to end: the
    real warp operator (decode -> SuggestedWarpOutput -> dst-center
    inverse mapping -> floor sampling -> checksum) against DuckDB
    replaying the whole double chain per destination pixel."""
    from .fixtures.images import images_df
    from .operators.rasterops import warp_to_wgs84

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    return warp_to_wgs84(imgs, "nearest").select("image_id", "cs1")


# gdalwarp -srcnodata value oracle: a 3-px collar painted with 201 (a
# value the fixture gradient never produces in ALL THREE bands at once,
# so the collar IS the unified-nodata set exactly) must propagate to
# dst_nodata under nearest sampling, and out-of-bounds destinations get
# dst_nodata instead of the unmasked fill — the whole masked chain
# (alg/gdalwarpkernel.cpp:614) replays per destination pixel in SQL.
_WARP_ND_SQL = _WARP_CS_SQL.replace(
    """    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (ix + iy * w) % 256 ELSE 0 END AS v""",
    """    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (CASE WHEN ix < 3 OR iy < 3 OR ix >= w - 3 OR iy >= h - 3
                    THEN 201 ELSE (ix + iy * w) % 256 END)
         ELSE 201 END AS v""",
)
assert _WARP_ND_SQL != _WARP_CS_SQL


def warp_nodata_checksum_q(spark, sf_dir):
    """gdalwarp -srcnodata masking VALUE-gated end to end
    (alg/gdalwarpkernel.cpp:614 "Masking Semantics",
    apps/gdalwarp_lib.cpp -srcnodata/-dstnodata): each image gets a 3-px
    nodata collar, the masked nearest warp must emit dst_nodata wherever
    the sampled source pixel is invalid or the destination falls outside
    the source, and DuckDB replays the masked chain per pixel."""
    from .fixtures.images import images_df
    from .operators.rasterops import warp_to_wgs84

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    return warp_to_wgs84(imgs, "nearest", src_nodata=201,
                         collar_px=3).select("image_id", "cs1")


# gdalwarp -cutline value oracle: a diamond cutline centered on each
# image (radius min(w,h)/2 - 3.3 px — fractional so no pixel center ever
# sits exactly on an edge, making scanline even-odd fill == the
# |dx|+|dy| <= R center test) masks the source; nearest-warped
# destinations sampling outside it get dst_nodata 201.  The whole masked
# chain replays per destination pixel in SQL.
_WARP_CUT_SQL = _WARP_CS_SQL.replace(
    """    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (ix + iy * w) % 256 ELSE 0 END AS v""",
    """    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
          AND abs(ix + 0.5 - w / 2.0) + abs(iy + 0.5 - h / 2.0)
              <= least(w, h) / 2.0 - 3.3
         THEN (ix + iy * w) % 256 ELSE 201 END AS v""",
)
assert _WARP_CUT_SQL != _WARP_CS_SQL

# gdalwarp -cutline + CUTLINE_BLEND_DIST value oracle (alg/gdalcutline.cpp
# BlendMaskGenerator): within BD = 2.7 px of the diamond boundary the
# density ramps 0.5 +- (d/BD)*0.5 (inside/outside) and the output value is
# floor(src * density + 0.5); beyond it the hard cutline applies.  The
# exact point-to-boundary distance of the diamond |dx|+|dy| = R folds to
# the first quadrant: perpendicular foot on the edge when |u-v| <= R
# (d = |u+v-R|/sqrt(2)), else the nearest vertex (d = hypot(max-R, min)).
# Fractional R (x.7) and BD (2.7) keep every comparison >= 0.018 from a
# tie, so the numpy segment-distance path and this closed form agree.
_BLD_U = "abs(ix + 0.5 - w / 2.0)"
_BLD_V = "abs(iy + 0.5 - h / 2.0)"
_BLD_R = "(least(w, h) / 2.0 - 3.3)"
_BLD_D = (f"CASE WHEN abs({_BLD_U} - {_BLD_V}) <= {_BLD_R} "
          f"THEN abs({_BLD_U} + {_BLD_V} - {_BLD_R}) / sqrt(2.0) "
          f"ELSE sqrt((greatest({_BLD_U}, {_BLD_V}) - {_BLD_R}) "
          f"* (greatest({_BLD_U}, {_BLD_V}) - {_BLD_R}) "
          f"+ least({_BLD_U}, {_BLD_V}) * least({_BLD_U}, {_BLD_V})) END")
_BLD_IN = f"({_BLD_U} + {_BLD_V} <= {_BLD_R})"
_BLD_RATIO = (f"CASE WHEN {_BLD_IN} THEN 0.5 + ({_BLD_D}) / 2.7 * 0.5 "
              f"ELSE 0.5 - ({_BLD_D}) / 2.7 * 0.5 END")
_WARP_BLEND_SQL = _WARP_CS_SQL.replace(
    """    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (ix + iy * w) % 256 ELSE 0 END AS v""",
    f"""    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN CASE WHEN ({_BLD_D}) <= 2.7
                   THEN CAST(floor(((ix + iy * w) % 256) * ({_BLD_RATIO})
                                   + 0.5) AS BIGINT)
                   WHEN {_BLD_IN} THEN (ix + iy * w) % 256
                   ELSE 201 END
         ELSE 201 END AS v""",
)
assert _WARP_BLEND_SQL != _WARP_CS_SQL


def _diamond_cutline_imgs(spark, sf_dir):
    """png fixture images + the per-image diamond cutline WKB column
    (radius min(w,h)/2 - 3.3 px) shared by the cutline and blend modes."""
    import pandas as pd
    from pyspark.sql.types import BinaryType

    from .fixtures.images import images_df
    from .oracle.geom import to_wkb
    from .oracle.tiling import geotransform_3857

    @F.pandas_udf(BinaryType())
    def diamond_wkb(lon: pd.Series, lat: pd.Series, gsd: pd.Series,
                    w: pd.Series, h: pd.Series) -> pd.Series:
        out = []
        for lo, la, g, ww, hh in zip(lon, lat, gsd, w, h):
            gt = geotransform_3857(float(lo), float(la), int(ww), int(hh),
                                   float(g))
            cx, cy = ww / 2.0, hh / 2.0
            R = min(ww, hh) / 2.0 - 3.3
            ring = [(gt[0] + px * gt[1], gt[3] + py * gt[5])
                    for px, py in ((cx, cy - R), (cx + R, cy), (cx, cy + R),
                                   (cx - R, cy), (cx, cy - R))]
            out.append(to_wkb("polygon", [ring]))
        return pd.Series(out)

    return images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png"
    ).withColumn(
        "cutline_wkb",
        diamond_wkb(F.col("lon"), F.col("lat"), F.col("gsd_m"),
                    F.col("w"), F.col("h")),
    )


def warp_cutline_checksum_q(spark, sf_dir):
    """gdalwarp -cutline VALUE-gated end to end
    (apps/gdalwarp_lib.cpp:5236: cutline transformed to source pixel
    coords and rasterized into the validity mask): a per-image diamond
    WKB cutline column drives the production operator path
    (warp_to_wgs84 cutline_col), and DuckDB replays the masked nearest
    chain with the closed-form diamond interior test."""
    from .operators.rasterops import warp_to_wgs84

    imgs = _diamond_cutline_imgs(spark, sf_dir)
    return warp_to_wgs84(imgs, "nearest", dst_nodata=201,
                         cutline_col="cutline_wkb").select("image_id", "cs1")


# Overview average value oracle: the uint8 average_2x2 path is exact
# integer math ((sum + 2) >> 2, gcore/overview.cpp:1980 semantics), so
# the downsampled band and its checksum replay exactly.
_OVR_AVG_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
dims AS (
  SELECT i, w, h, (w - w % 2) // 2 AS w2, (h - h % 2) // 2 AS h2 FROM meta
),
opx AS (
  SELECT d.i, d.w, d.w2, CAST(k.a AS BIGINT) AS flat,
         2 * (CAST(k.a AS BIGINT) % d.w2) AS x0,
         2 * (CAST(k.a AS BIGINT) // d.w2) AS y0
  FROM dims d, LATERAL (
    SELECT unnest(generate_series(0, d.w2 * d.h2 - 1)) AS a) k
),
v AS (
  SELECT i, flat,
    ((x0 + y0 * w) % 256 + (x0 + 1 + y0 * w) % 256
     + (x0 + (y0 + 1) * w) % 256 + (x0 + 1 + (y0 + 1) * w) % 256 + 2) // 4
      AS b1,
    ((3 * x0) % 256 + (3 * (x0 + 1)) % 256
     + (3 * x0) % 256 + (3 * (x0 + 1)) % 256 + 2) // 4 AS b2,
    ((7 * y0) % 256 + (7 * y0) % 256
     + (7 * (y0 + 1)) % 256 + (7 * (y0 + 1)) % 256 + 2) // 4 AS b3
  FROM opx
)
SELECT printf('img%08d', i) AS image_id,
       CAST(MIN(d.w2) AS INTEGER) AS w2, CAST(MIN(d.h2) AS INTEGER) AS h2,
       CAST(SUM(b1 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1,
       CAST(SUM(b2 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs2,
       CAST(SUM(b3 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs3
FROM v JOIN dims d USING (i)
GROUP BY i
"""


# Round-5 merged overview-kernel gate: gauss (gcore/overview.cpp:1996
# GDALResampleChunk_Gauss — 3x3 [1,2,1;2,4,2;1,2,1] rooted at (2ox, 2oy),
# truncated + weight-renormalized at the bottom/right edges) and rms
# (AverageOrRMS RMS branch: floor(sqrt(mean of squares) + 0.5)) replay
# exactly: every accumulation is integer-valued (exact in f64 regardless
# of order) and sqrt/divide are correctly rounded identically in numpy
# and DuckDB.


def _gauss_px_sql(vfmt: str) -> str:
    """floor(conv3x3/wsum + 0.5) for a band value template vfmt({x},{y})
    over the CROPPED even dims (2*w2, 2*h2)."""
    G = ((1, 2, 1), (2, 4, 2), (1, 2, 1))
    taps, wts = [], []
    for di in range(3):
        for dj in range(3):
            x = f"(2 * ox + {dj})"
            y = f"(2 * oy + {di})"
            cond = f"2 * ox + {dj} < 2 * w2 AND 2 * oy + {di} < 2 * h2"
            taps.append(f"CASE WHEN {cond} THEN {G[di][dj]} "
                        f"* ({vfmt.format(x=x, y=y)}) ELSE 0 END")
            wts.append(f"CASE WHEN {cond} THEN {G[di][dj]} ELSE 0 END")
    return (f"CAST(floor(({' + '.join(taps)}) * 1.0 "
            f"/ ({' + '.join(wts)}) + 0.5) AS BIGINT)")


def _rms_px_sql(vfmt: str) -> str:
    sq = []
    for di in range(2):
        for dj in range(2):
            v = vfmt.format(x=f"(2 * ox + {dj})", y=f"(2 * oy + {di})")
            sq.append(f"({v}) * ({v})")
    return (f"CAST(floor(sqrt(({' + '.join(sq)}) / 4.0) + 0.5) AS BIGINT)")


_OVR_BANDS = ("(({x}) + ({y}) * w) % 256",   # b1: full-width gradient
              "(3 * ({x})) % 256",            # b2
              "(7 * ({y})) % 256")            # b3


def _ovr_kernel_sql(px_fn) -> str:
    b1, b2, b3 = (px_fn(v) for v in _OVR_BANDS)
    return f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
dims AS (
  SELECT i, w, h, (w - w % 2) // 2 AS w2, (h - h % 2) // 2 AS h2 FROM meta
),
opx AS (
  SELECT d.i, d.w, d.w2, d.h2, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % d.w2 AS ox,
         CAST(k.a AS BIGINT) // d.w2 AS oy
  FROM dims d, LATERAL (
    SELECT unnest(generate_series(0, d.w2 * d.h2 - 1)) AS a) k
),
v AS (
  SELECT i, flat, {b1} AS b1, {b2} AS b2, {b3} AS b3 FROM opx
)
SELECT printf('img%08d', i) AS image_id,
       CAST(MIN(d.w2) AS INTEGER) AS w2, CAST(MIN(d.h2) AS INTEGER) AS h2,
       CAST(SUM(b1 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1,
       CAST(SUM(b2 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs2,
       CAST(SUM(b3 % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs3
FROM v JOIN dims d USING (i)
GROUP BY i
"""


_OVR_MERGED_SQL = f"""
SELECT 'average' AS mode, image_id, w2, h2, cs1, cs2, cs3
FROM ({_OVR_AVG_SQL.strip()})
UNION ALL
SELECT 'gauss' AS mode, image_id, w2, h2, cs1, cs2, cs3
FROM ({_ovr_kernel_sql(_gauss_px_sql).strip()})
UNION ALL
SELECT 'rms' AS mode, image_id, w2, h2, cs1, cs2, cs3
FROM ({_ovr_kernel_sql(_rms_px_sql).strip()})
"""


@q("overview_average_checksum", _OVR_MERGED_SQL)
def overview_average_checksum_q(spark, sf_dir):
    """BuildOverviews kernel suite VALUE-gated in one slot: the real
    overview operator (decode -> 2x downsample -> checksum) for average
    (gcore/overview.cpp:1980 integer rounding), gauss (:1996 3x3 kernel,
    edge-truncated + renormalized), and rms (AverageOrRMS RMS branch) —
    each mode's exact integer/f64 chain replayed in DuckDB."""
    from .fixtures.images import images_df
    from .operators.rasterops import overview_downsample

    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    cols = ["image_id", "w2", "h2", "cs1", "cs2", "cs3"]
    parts = [overview_downsample(imgs, m).select(
        F.lit(m).alias("mode"), *cols) for m in ("average", "gauss", "rms")]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# InterpolateAtPoint value oracle: one deterministic point per PNG image
# (golden-ratio offsets, no RNG), bilinear over the closed-form pixel
# lattice — every op in the chain (mercator forward, fractional pixel
# coords, 4-corner weights) is IEEE-exact double math both engines execute
# identically; ROUND(.,4) pairs np.round with DuckDB ROUND like the
# decode_stats gate.
def _cubic_ps_exprs() -> tuple[str, str]:
    """Generated 16-term GWKCubic (Catmull-Rom a=-0.5) value/weight-sum
    SQL, term order and operator associativity matching the numpy
    accumulation in sample_at_points exactly (di outer, dj inner,
    left-assoc adds; glibc pow on both engines)."""
    def W(d):
        ax = f"abs({d})"
        return (f"(CASE WHEN {ax} <= 1.0 THEN 1.5*power({ax},3)"
                f" - 2.5*power({ax},2) + 1.0"
                f" WHEN {ax} < 2.0 THEN -0.5*power({ax},3)"
                f" + 2.5*power({ax},2) - 4.0*{ax} + 2.0"
                f" ELSE 0.0 END)")

    vals, ws = [], []
    for di in (-1, 0, 1, 2):
        wy = W(f"gy - (y0 + ({di}))")
        yi = f"least(greatest(y0 + ({di}), 0), h - 1)"
        for dj in (-1, 0, 1, 2):
            wx = W(f"gx - (x0 + ({dj}))")
            xi = f"least(greatest(x0 + ({dj}), 0), w - 1)"
            pix = f"CAST(({xi} + {yi} * w) % 256 AS DOUBLE)"
            vals.append(f"{wy} * {wx} * {pix}")
            ws.append(f"{wy} * {wx}")
    return "\n    + ".join(vals), "\n    + ".join(ws)


_CUBIC_VAL_SQL, _CUBIC_WSUM_SQL = _cubic_ps_exprs()

_PS_SQL = f"""
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    i * 6.18033988749894903e-01 - floor(i * 6.18033988749894903e-01) AS u,
    i * 7.54877666246692725e-01 - floor(i * 7.54877666246692725e-01) AS v,
    i * 5.69840290998053223e-01 - floor(i * 5.69840290998053223e-01) AS u3,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h,
    CASE i % 4 WHEN 0 THEN 10.0 WHEN 1 THEN 50.0 WHEN 2 THEN 100.0
               ELSE 500.0 END AS gsd
  FROM idx
),
pts AS (
  SELECT i, w, h, gsd, u, v, u3,
    CASE WHEN i % 5 = 0 THEN 2.3 + (u - 0.5) * 1.0
         ELSE u * 360.0 - 180.0 END AS lon,
    CASE WHEN i % 5 = 0 THEN 48.8 + (v - 0.5) * 1.0
         ELSE (v * 2.0 - 1.0) * 85.05 END AS lat
  FROM meta
),
probe AS (
  SELECT i, w, h, gsd, lon, lat,
    lon + (v - 0.5) * (0.6 * w * gsd / {T.ORIGIN_SHIFT} * 180.0) AS plon,
    least(greatest(
      lat + (u3 - 0.5) * (0.6 * h * gsd / {T.ORIGIN_SHIFT} * 180.0)
            * cos(lat * (pi() / 180.0)),
      -{T.MAX_LAT}), {T.MAX_LAT}) AS plat
  FROM pts
),
frac AS (
  SELECT i, w, h,
    ({T.sql_mx('plon')} - ({T.sql_mx('lon')} - w * gsd / 2.0)) / gsd AS fx,
    ({T.sql_my('plat')} - ({T.sql_my('lat')} + h * gsd / 2.0)) / (-gsd) AS fy
  FROM probe
),
gxy AS (
  SELECT i, w, h, fx, fy,
    least(greatest(fx - 0.5, 0.0e0), w - 1.0) AS gx,
    least(greatest(fy - 0.5, 0.0e0), h - 1.0) AS gy
  FROM frac
  WHERE fx >= 0 AND fx < w AND fy >= 0 AND fy < h
),
corners AS (
  SELECT i, w, gx, gy,
    CAST(floor(gx) AS BIGINT) AS x0, CAST(floor(gy) AS BIGINT) AS y0,
    least(CAST(floor(gx) AS BIGINT) + 1, w - 1) AS x1,
    least(CAST(floor(gy) AS BIGINT) + 1, CAST(h AS BIGINT) - 1) AS y1,
    gx - CAST(floor(gx) AS BIGINT) AS wx,
    gy - CAST(floor(gy) AS BIGINT) AS wy
  FROM gxy
)
SELECT 'bilinear' AS mode, printf('img%08d', i) AS image_id,
  i AS point_id,
  ROUND(
    CAST((x0 + y0 * w) % 256 AS DOUBLE) * (1 - wx) * (1 - wy)
    + CAST((x1 + y0 * w) % 256 AS DOUBLE) * wx * (1 - wy)
    + CAST((x0 + y1 * w) % 256 AS DOUBLE) * (1 - wx) * wy
    + CAST((x1 + y1 * w) % 256 AS DOUBLE) * wx * wy, 4) AS value
FROM corners
UNION ALL
SELECT 'cubic', printf('img%08d', i), i,
  ROUND(({_CUBIC_VAL_SQL})
        / (CASE WHEN ({_CUBIC_WSUM_SQL}) = 0 THEN 1
                ELSE ({_CUBIC_WSUM_SQL}) END), 4)
FROM (SELECT i, w, h, gx, gy,
             CAST(floor(gx) AS BIGINT) AS x0,
             CAST(floor(gy) AS BIGINT) AS y0
      FROM gxy)
"""


@q("point_sample_bilinear", _PS_SQL)
def point_sample_bilinear_q(spark, sf_dir):
    """InterpolateAtPoint (gcore/gdalrasterband.cpp:11497) VALUE-gated in
    both kernels (round-5 fold): the real sample_at_points bilinear AND
    cubic (GWKCubic Catmull-Rom a=-0.5, alg/gdal_interpolateatpoint.cpp:415)
    paths at one deterministic golden-ratio probe point per PNG image,
    DuckDB replaying the mercator forward, the fractional pixel
    coordinates, and the 4-corner / 16-term border-clipped kernel sums on
    the closed-form pixel lattice in the exact numpy accumulation order."""
    from .fixtures.images import images_df, row_meta
    from .operators.rasterops import sample_at_points
    from .oracle import mercator as M

    n = min(_images_n(sf_dir), 60)
    imgs = images_df(spark, n).where(F.col("fmt") == "png")
    meta = row_meta(np.arange(n, dtype=np.int64))
    png = meta[np.arange(n) % 3 == 0]
    i = png.index.to_numpy().astype(np.int64)
    u2 = i * 0.7548776662466927 - np.floor(i * 0.7548776662466927)
    u3 = i * 0.5698402909980532 - np.floor(i * 0.5698402909980532)
    w = png["w"].to_numpy().astype(np.float64)
    h = png["h"].to_numpy().astype(np.float64)
    gsd = png["gsd_m"].to_numpy()
    lon = png["lon"].to_numpy()
    lat = png["lat"].to_numpy()
    OS = 20037508.342789244
    plon = lon + (u2 - 0.5) * (0.6 * w * gsd / OS * 180.0)
    plat = np.clip(
        lat + (u3 - 0.5) * (0.6 * h * gsd / OS * 180.0)
        * np.cos(lat * (np.pi / 180.0)),
        -M.MAX_LAT, M.MAX_LAT)
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": png["image_id"].to_numpy(),
        "point_id": i,
        "plon": plon, "plat": plat,
    }))
    cols = ["image_id", "point_id", "value"]
    return (
        sample_at_points(imgs, pts, "bilinear")
        .select(F.lit("bilinear").alias("mode"), *cols)
        .unionByName(
            sample_at_points(imgs, pts, "cubic")
            .select(F.lit("cubic").alias("mode"), *cols)))


# Pixel-function value gate: fixture pixels are closed-form (b1 = flat%256,
# b2 = (3x)%256, b3 = (7y)%256), and every op in these five functions
# (int +/-, correctly-rounded / sqrt *) is IEEE-exact, so floor(v*1e6)
# micro-units are bit-identical between numpy and DuckDB — no ROUND
# half-even-vs-half-away hazard.
_PIXFN_SQL = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
),
px AS (
  SELECT m.i, m.w, m.h, CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % m.w AS x,
         CAST(k.a AS BIGINT) // m.w AS y
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
),
bands AS (
  SELECT i, CAST(flat % 256 AS DOUBLE) AS b1,
         CAST((3 * x) % 256 AS DOUBLE) AS b2,
         CAST((7 * y) % 256 AS DOUBLE) AS b3
  FROM px
),
vals AS (
  SELECT i, fn,
    CASE fn
      WHEN 'norm_diff' THEN (b1 - b2) / GREATEST(b1 + b2, 1e-9)
      WHEN 'div' THEN CASE WHEN b2 = 0 THEN 0.0e0 ELSE b1 / b2 END
      WHEN 'sqrt' THEN sqrt(b1)
      WHEN 'intensity' THEN b1 * b1
      WHEN 'sum' THEN b1 + b2 + b3
    END AS v
  FROM bands, (SELECT unnest(['norm_diff', 'div', 'sqrt', 'intensity',
                              'sum']) AS fn)
)
SELECT printf('img%08d', i) AS image_id, fn,
       COUNT(*) AS n_px,
       CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
       CAST(MIN(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS min_micro,
       CAST(MAX(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS max_micro
FROM vals
GROUP BY i, fn
"""


@q("pixel_functions", _PIXFN_SQL)
def pixel_functions_q(spark, sf_dir):
    """VRT pixel functions VALUE-gated end to end: decode the PNG bytes,
    run the real `_pixel_func` kernel for five representative functions
    (two-band rational, guarded division, unary sqrt, intensity, n-band
    sum — frmts/vrt/pixelfunctions.cpp:4313-4441), emit exact integer
    micro-unit aggregates; DuckDB replays the closed-form pixel formulas
    per pixel."""
    from .fixtures.images import images_df
    from .operators.imagemap import map_images
    from .operators.rasterops import _pixel_func

    fns = ["norm_diff", "div", "sqrt", "intensity", "sum"]

    def stats(a, r):
        a = a.astype(np.float64)
        for fn in fns:
            v = _pixel_func(fn, a, 0.0 if fn == "sum" else None)
            micro = np.floor(v * 1e6).astype(np.int64)
            yield dict(
                image_id=r.image_id, fn=fn, n_px=int(micro.size),
                sum_micro=int(micro.sum()),
                min_micro=int(micro.min()),
                max_micro=int(micro.max()),
            )

    imgs = images_df(spark, min(_images_n(sf_dir), 60))
    return map_images(
        imgs.where(F.col("fmt") == "png"), ["image_id", "bytes"],
        "image_id string, fn string, n_px long, sum_micro long, "
        "min_micro long, max_micro long", stats)


# ---------------------------------------------------------------------------
# Grid interpolation, rasterize, polygonize/sieve/proximity, ST_* SQL
# ---------------------------------------------------------------------------

_GRID_IDW_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
pts AS (
  SELECT {T.sql_mx('lon')} / 1000000.0 AS x,
         {T.sql_my('lat')} / 1000000.0 AS y,
         CAST(pid % 100 AS DOUBLE) AS v
  FROM customer_points
),
cells AS (
  SELECT px, py,
         -20.0 + (px + 0.5) * 2.5 AS cx,
         20.0 - (py + 0.5) * 2.5 AS cy
  FROM (SELECT CAST(a AS BIGINT) AS px FROM (SELECT unnest(generate_series(0, 15)) AS a)) xs
  CROSS JOIN (SELECT CAST(b AS BIGINT) AS py FROM (SELECT unnest(generate_series(0, 15)) AS b)) ys
),
pairs AS (
  SELECT c.px, c.py, p.v,
         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2
  FROM cells c JOIN pts p
    ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) <= 25.0
)
SELECT px, py,
       ROUND(CASE WHEN min(d2) = 0 THEN min_by(v, d2)
                  ELSE sum(v / d2) / sum(1.0 / d2) END, 6) AS value,
       COUNT(*) AS n
FROM pairs
GROUP BY px, py
"""


def grid_idw(spark, sf_dir):
    """gdalgrid inverse-distance-to-a-power (alg/gdalgrid.cpp:110) over the
    derived customer points (mercator megameters), 16x16 grid, radius 5:
    scatter-to-cells + one groupBy — oracle is the direct SQL aggregation."""
    from .operators.gridding import grid_interpolate

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(
        f"""WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT {T.sql_mx('lon')} / 1000000.0 AS x,
       {T.sql_my('lat')} / 1000000.0 AS y,
       CAST(pid % 100 AS DOUBLE) AS v
FROM customer_points"""
    )
    return grid_interpolate(
        pts, minx=-20.0, miny=-20.0, cell=2.5, nx=16, ny=16, radius=5.0,
        algorithm="invdist",
    )


# pixel size shared with the Spark operator as ONE Python value (templates._d
# determinism rule — a hand-typed literal here once diverged by 1.5e-7 m)
_RZ_OS = 20037508.342789244
_RZ_CELL = T._d(2.0 * _RZ_OS / 32.0)

# shared text fragments for the round-2 grid-mode oracles (same derived
# points as grid_idw: customer mercator megameters, v = pid % 100)
_GRID_PTS_CTE = f"""pts AS (
  SELECT {T.sql_mx('lon')} / 1000000.0 AS x,
         {T.sql_my('lat')} / 1000000.0 AS y,
         CAST(pid % 100 AS DOUBLE) AS v
  FROM customer_points
),
cells AS (
  SELECT px, py,
         -20.0 + (px + 0.5) * 2.5 AS cx,
         20.0 - (py + 0.5) * 2.5 AS cy
  FROM (SELECT CAST(a AS BIGINT) AS px FROM (SELECT unnest(generate_series(0, 15)) AS a)) xs
  CROSS JOIN (SELECT CAST(b AS BIGINT) AS py FROM (SELECT unnest(generate_series(0, 15)) AS b)) ys
)"""

_MOVAVG_ANGLE = 30.0
_MA_C1 = T._d(float(np.cos(np.radians(_MOVAVG_ANGLE))))
_MA_C2 = T._d(float(np.sin(np.radians(_MOVAVG_ANGLE))))

_GRID_MOVAVG_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{_GRID_PTS_CTE},
pairs AS (
  SELECT c.px, c.py, p.v,
         (p.x - c.cx) * {_MA_C1} + (p.y - c.cy) * {_MA_C2} AS rxr,
         (p.y - c.cy) * {_MA_C1} - (p.x - c.cx) * {_MA_C2} AS ryr
  FROM cells c JOIN pts p
    ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) <= 49.0
)
SELECT px, py, ROUND(AVG(v), 6) AS value, COUNT(*) AS n
FROM pairs
WHERE 9.0 * rxr * rxr + 49.0 * ryr * ryr <= 441.0
GROUP BY px, py
HAVING COUNT(*) >= 2
"""


def grid_movavg_ellipse(spark, sf_dir):
    """gdalgrid moving-average with a rotated-ellipse search window
    (radius1=7, radius2=3, angle=30°, min_points=2 — gdalgrid.cpp:630-695
    membership r2²·x'² + r1²·y'² <= r1²·r2²); oracle repeats the exact
    rotation/membership arithmetic in SQL."""
    from .operators.gridding import grid_interpolate

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(
        f"""WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT {T.sql_mx('lon')} / 1000000.0 AS x,
       {T.sql_my('lat')} / 1000000.0 AS y,
       CAST(pid % 100 AS DOUBLE) AS v
FROM customer_points"""
    )
    return grid_interpolate(
        pts, minx=-20.0, miny=-20.0, cell=2.5, nx=16, ny=16,
        algorithm="average", radius1=7.0, radius2=3.0, angle=_MOVAVG_ANGLE,
        min_points=2,
    )


_GRID_IDW_NN_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{_GRID_PTS_CTE},
pairs AS (
  SELECT c.px, c.py, p.v,
         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2,
         ROW_NUMBER() OVER (
           PARTITION BY c.px, c.py
           ORDER BY (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy),
                    p.x, p.y
         ) AS nnr
  FROM cells c JOIN pts p
    ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) <= 64.0
)
SELECT px, py,
       ROUND(CASE WHEN min(d2) = 0 THEN min_by(v, d2)
                  ELSE sum(v / d2) / sum(1.0 / d2) END, 6) AS value,
       COUNT(*) AS n
FROM pairs WHERE nnr <= 8
GROUP BY px, py
"""


def grid_idw_nn(spark, sf_dir):
    """IDW bounded to the 8 nearest points in radius — the reference's
    InverseDistanceToAPowerNearestNeighbor variant (gdalgrid.cpp:905
    family); per-pixel top-k window before the weighted aggregate, oracled
    by the identical ROW_NUMBER SQL."""
    from .operators.gridding import grid_interpolate

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(
        f"""WITH {CUSTOMER_POINTS_CTE.strip()}
SELECT {T.sql_mx('lon')} / 1000000.0 AS x,
       {T.sql_my('lat')} / 1000000.0 AS y,
       CAST(pid % 100 AS DOUBLE) AS v
FROM customer_points"""
    )
    return grid_interpolate(
        pts, minx=-20.0, miny=-20.0, cell=2.5, nx=16, ny=16, radius=8.0,
        algorithm="invdist", max_points=8,
    )


_RASTERIZE_COUNT_SQL = f"""
WITH {ORDERS_POINTS_CTE.strip()},
px AS (
  SELECT CAST(floor(({T.sql_mx('lon')} + {T._d(_RZ_OS)}) / {_RZ_CELL}) AS BIGINT) AS px,
         CAST(floor(({T._d(_RZ_OS)} - {T.sql_my('lat')}) / {_RZ_CELL}) AS BIGINT) AS py
  FROM orders_points
)
SELECT px, py, COUNT(*) AS n
FROM px
WHERE px >= 0 AND px < 32 AND py >= 0 AND py < 32
GROUP BY px, py
"""


def rasterize_point_counts_q(spark, sf_dir):
    """gdal_rasterize point burn in ADD mode == density grid
    (alg/gdalrasterize.cpp points path) — pure column math + groupBy."""
    from .functions import cells as C
    from .operators.vectorize import rasterize_point_counts

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(
        f"WITH {ORDERS_POINTS_CTE.strip()} SELECT "
        f"{T.sql_mx('lon')} AS x, {T.sql_my('lat')} AS y FROM orders_points"
    )
    return rasterize_point_counts(
        pts, minx=-_RZ_OS, maxy=_RZ_OS, cell=2.0 * _RZ_OS / 32.0, nx=32, ny=32
    )


# Polygon rasterize grid: world-mercator 268x268 at 150 km cells.  The
# customer rects are axis-aligned, so the even-odd scanline pixel range is
# closed-form: centers inside <=> px in [ceil(x0-0.5), floor(x1-0.5)] in
# pixel space — replayable exactly in SQL (all doubles bit-identical).
_RZ_GX = -20100000.0
_RZ_CELL = 150000.0
_RZ_N = 268

_RASTERIZE_ATTR_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{{RECTS}},
pxr AS (
  SELECT aid, CAST(aid % 7 + 1 AS DOUBLE) AS bv,
         CAST(ceil((minx - ({_RZ_GX:.1f})) / {_RZ_CELL:.1f} - 0.5) AS BIGINT) AS px0,
         CAST(floor((maxx - ({_RZ_GX:.1f})) / {_RZ_CELL:.1f} - 0.5) AS BIGINT) AS px1,
         CAST(ceil((({-_RZ_GX:.1f}) - maxy) / {_RZ_CELL:.1f} - 0.5) AS BIGINT) AS py0,
         CAST(floor((({-_RZ_GX:.1f}) - miny) / {_RZ_CELL:.1f} - 0.5) AS BIGINT) AS py1
  FROM customer_rects
)
SELECT x.a AS px, y.a AS py, CAST(SUM(bv) AS DOUBLE) AS v
FROM pxr,
     LATERAL (SELECT unnest(generate_series(px0, px1)) AS a) x,
     LATERAL (SELECT unnest(generate_series(py0, py1)) AS a) y
WHERE px0 <= px1 AND py0 <= py1
  AND x.a >= 0 AND x.a < {_RZ_N} AND y.a >= 0 AND y.a < {_RZ_N}
GROUP BY x.a, y.a
"""

_RASTERIZE_AT_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{{RECTS}},
pxr AS (
  SELECT aid, CAST(aid % 7 + 1 AS DOUBLE) AS bv,
         CAST(floor((minx - ({_RZ_GX:.1f})) / {_RZ_CELL:.1f}) AS BIGINT) AS px0,
         CAST(floor((maxx - ({_RZ_GX:.1f})) / {_RZ_CELL:.1f}) AS BIGINT) AS px1,
         CAST(floor((({-_RZ_GX:.1f}) - maxy) / {_RZ_CELL:.1f}) AS BIGINT) AS py0,
         CAST(floor((({-_RZ_GX:.1f}) - miny) / {_RZ_CELL:.1f}) AS BIGINT) AS py1
  FROM customer_rects
)
SELECT x.a AS px, y.a AS py, arg_max(bv, aid) AS v
FROM pxr,
     LATERAL (SELECT unnest(generate_series(px0, px1)) AS a) x,
     LATERAL (SELECT unnest(generate_series(py0, py1)) AS a) y
WHERE x.a >= 0 AND x.a < {_RZ_N} AND y.a >= 0 AND y.a < {_RZ_N}
GROUP BY x.a, y.a
"""


def _rect_wkb_layer(spark):
    """customer_rects as (fid, wkb, bv) polygon rows."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G

    @F.pandas_udf(BinaryType())
    def rect_wkb(minx: pd.Series, miny: pd.Series, maxx: pd.Series,
                 maxy: pd.Series) -> pd.Series:
        out = []
        for x0, y0, x1, y1 in zip(minx, miny, maxx, maxy):
            ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                             [x0, y0]])
            out.append(G.to_wkb("polygon", [ring]))
        return pd.Series(out)

    a = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()}, {_CUSTOMER_RECTS.strip()} "
        "SELECT * FROM customer_rects"
    )
    return a.select(
        F.col("aid").alias("fid"),
        rect_wkb("minx", "miny", "maxx", "maxy").alias("wkb"),
        ((F.col("aid") % 7 + 1).cast("double")).alias("bv"),
    )


def rasterize_attr_add_q(spark, sf_dir):
    """gdal_rasterize -a <attr> -add over a polygon layer: per-tile
    even-odd scanline burn, attribute values accumulated (GRIO_ADD,
    alg/gdalrasterize.cpp:796-811) — DuckDB replays the closed-form
    rect pixel ranges."""
    from .operators.vectorize import rasterize_layer

    register_tpch_views(spark, sf_dir)
    return rasterize_layer(
        _rect_wkb_layer(spark), minx=_RZ_GX, maxy=-_RZ_GX, cell=_RZ_CELL,
        nx=_RZ_N, ny=_RZ_N, attribute="bv", add=True,
    )


def rasterize_all_touched_q(spark, sf_dir):
    """gdal_rasterize -at (ALL_TOUCHED): Amanatides-Woo boundary traversal
    + interior fill, replace mode — deterministic last-feature-wins
    replayed as arg_max(bv, fid) over each rect's touched bbox."""
    from .operators.vectorize import rasterize_layer

    register_tpch_views(spark, sf_dir)
    return rasterize_layer(
        _rect_wkb_layer(spark), minx=_RZ_GX, maxy=-_RZ_GX, cell=_RZ_CELL,
        nx=_RZ_N, ny=_RZ_N, attribute="bv", add=False, all_touched=True,
    )


# Closed-form value oracles over the pattern fixtures
# (fixtures/patterns.py): checkerboard blocks are exactly the 4-connected
# components (first-appearance row-major comp ids) for GDALPolygonize;
# the sieve merges each diagonal 1-px defect back into its enclosing
# block (restoring the exact checkerboard checksum = 64 * #odd-blocks);
# stripe targets make the chamfer transform purely horizontal hence
# exact; the descending cone makes every cell visible from the apex
# (Wang viewshed); the constant plateau makes the IDW hole fill exactly
# the constant.  Proximity stats are pinned as micro-units: widths are
# powers of two so sum(d)/w is dyadic and FLOOR(x*10000 + 0.5) is
# bit-deterministic in IEEE double on both engines.
_EXACT_PATTERNS_SQL = f"""
WITH cidx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 23)) AS a)
),
cmeta AS (
  SELECT i,
    CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 24 WHEN 2 THEN 32 ELSE 40 END AS w,
    CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 48 ELSE 24 END AS h
  FROM cidx
),
cblocks AS (
  SELECT m.i, m.w // 8 AS nbx, m.h // 8 AS nby,
         CAST(bx.a AS BIGINT) AS bx, CAST(by.a AS BIGINT) AS by
  FROM cmeta m,
       LATERAL (SELECT unnest(generate_series(0, m.w // 8 - 1)) AS a) bx,
       LATERAL (SELECT unnest(generate_series(0, m.h // 8 - 1)) AS a) by
),
smeta AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 128 END AS w,
    CASE i % 3 WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 7 END AS s
  FROM cidx
),
sdist AS (
  SELECT m.i, m.w,
    LEAST(CAST(x.a % m.s AS DOUBLE),
          CASE WHEN x.a - (x.a % m.s) + m.s <= m.w - 1
               THEN CAST(m.s - (x.a % m.s) AS DOUBLE) ELSE 1e18 END) AS d
  FROM smeta m, LATERAL (SELECT unnest(generate_series(0, m.w - 1)) AS a) x
),
vmeta AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 33 WHEN 1 THEN 48 ELSE 64 END AS w,
    CASE i % 3 WHEN 0 THEN 25 WHEN 1 THEN 63 ELSE 41 END AS h
  FROM cidx
),
vcs AS (
  SELECT m.i, CAST(m.w AS BIGINT) * m.h AS n,
    CAST(SUM(255 % ({_CS_PRIME.format(i='k.a')})) % 65536 AS BIGINT) AS cs
  FROM vmeta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
  GROUP BY m.i, m.w, m.h
),
rpx AS (
  SELECT m.i, CAST(k.a AS BIGINT) AS flat,
    CASE
      WHEN 200 - 3 * GREATEST(abs(CAST(k.a AS BIGINT) % m.w - m.w // 2),
             abs(CAST(k.a AS BIGINT) // m.w - m.h // 2)) < 120 THEN 0
      WHEN 200 - 3 * GREATEST(abs(CAST(k.a AS BIGINT) % m.w - m.w // 2),
             abs(CAST(k.a AS BIGINT) // m.w - m.h // 2)) < 150 THEN 1
      WHEN 200 - 3 * GREATEST(abs(CAST(k.a AS BIGINT) % m.w - m.w // 2),
             abs(CAST(k.a AS BIGINT) // m.w - m.h // 2)) < 180 THEN 2
      ELSE 3 END AS c
  FROM vmeta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
),
rcs AS (
  SELECT i, COUNT(DISTINCT c) AS n_classes,
    CAST(SUM(c % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs,
    SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS c2,
    SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS c3
  FROM rpx GROUP BY i
),
nmeta AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END AS w,
    CASE i % 3 WHEN 0 THEN 40 WHEN 1 THEN 32 ELSE 64 END AS h,
    CASE i % 3 WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 4 END AS k
  FROM cidx
),
ncs AS (
  SELECT m.i,
    CAST(m.w * m.h
         - (m.w - 2 * (m.k + 2)) * (m.h - 2 * (m.k + 2)) AS BIGINT) AS n_collar,
    CAST((m.w - 2 * (m.k + 2)) * (m.h - 2 * (m.k + 2)) AS BIGINT) AS n_valid,
    CAST(SUM(200 % ({_CS_PRIME.format(i='y.a * m.w + x.a')})) % 65536 AS BIGINT) AS cs
  FROM nmeta m,
       LATERAL (SELECT unnest(generate_series(m.k + 2, m.h - m.k - 3)) AS a) y,
       LATERAL (SELECT unnest(generate_series(m.k + 2, m.w - m.k - 3)) AS a) x
  GROUP BY m.i, m.w, m.h, m.k
),
fmeta AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 48 ELSE 64 END AS w,
    CASE i % 3 WHEN 0 THEN 40 WHEN 1 THEN 32 ELSE 64 END AS h
  FROM cidx
),
fcs AS (
  SELECT m.i,
    CAST(SUM(200 % ({_CS_PRIME.format(i='k.a')})) % 65536 AS BIGINT) AS cs
  FROM fmeta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
  GROUP BY m.i
)
SELECT 'polygonize' AS mode, printf('chk%08d', i) AS image_id,
       CAST(by * nbx + bx + 1 AS DOUBLE) AS a,
       CAST((bx + by) % 2 AS DOUBLE) AS b,
       64.0 AS c,
       CAST(by * 8 AS DOUBLE) AS d, CAST(bx * 8 AS DOUBLE) AS e,
       CAST(by * 8 + 7 AS DOUBLE) AS f, CAST(bx * 8 + 7 AS DOUBLE) AS g
FROM cblocks
UNION ALL
SELECT 'polygonize8' AS mode, printf('chk%08d', i) AS image_id,
       CAST(comp.a AS DOUBLE) AS a,
       CAST(comp.a - 1 AS DOUBLE) AS b,
       CAST(CASE WHEN comp.a = 1
                 THEN ((nbx * nby + (nbx % 2) * (nby % 2)) // 2) * 64
                 ELSE (nbx * nby - (nbx * nby + (nbx % 2) * (nby % 2)) // 2) * 64
            END AS DOUBLE) AS c,
       0.0 AS d, 0.0 AS e,
       CAST(nby * 8 - 1 AS DOUBLE) AS f, CAST(nbx * 8 - 1 AS DOUBLE) AS g
FROM (SELECT DISTINCT i, nbx, nby FROM cblocks),
     (SELECT unnest(generate_series(1, 2)) AS a) comp
UNION ALL
SELECT 'sieve' AS mode, printf('svd%08d', i) AS image_id,
       CAST(nbx * nby + LEAST(nbx, nby) AS DOUBLE) AS a,
       CAST(nbx * nby AS DOUBLE) AS b,
       CAST(((nbx * nby) // 2) * 64 AS DOUBLE) AS c,
       0.0 AS d, 0.0 AS e, 0.0 AS f, 0.0 AS g
FROM (SELECT DISTINCT i, nbx, nby FROM cblocks)
UNION ALL
SELECT 'proximity' AS mode, printf('stp%08d', i) AS image_id,
       FLOOR(MAX(d) * 10000 + 0.5) AS a,
       FLOOR(SUM(d) / w * 10000 + 0.5) AS b,
       0.0 AS c, 0.0 AS d, 0.0 AS e, 0.0 AS f, 0.0 AS g
FROM sdist GROUP BY i, w
UNION ALL
SELECT 'viewshed' AS mode, printf('vsh%08d', i) AS image_id,
       CAST(n AS DOUBLE) AS a, 1.0 AS b, CAST(cs AS DOUBLE) AS c,
       4.0 AS d, 0.0 AS e, 0.0 AS f, 0.0 AS g
FROM vcs
UNION ALL
SELECT 'nearblack' AS mode, printf('nbk%08d', i) AS image_id,
       CAST(n_collar AS DOUBLE) AS a, CAST(n_valid AS DOUBLE) AS b,
       CAST(cs AS DOUBLE) AS c, 0.0 AS d, 0.0 AS e, 0.0 AS f, 0.0 AS g
FROM ncs
UNION ALL
SELECT 'fill_nodata' AS mode, printf('fnd%08d', i) AS image_id,
       36.0 AS a, CAST(cs AS DOUBLE) AS b,
       0.0 AS c, 0.0 AS d, 0.0 AS e, 0.0 AS f, 0.0 AS g
FROM fcs
UNION ALL
SELECT 'rat' AS mode, printf('vsh%08d', i) AS image_id,
       CAST(n_classes AS DOUBLE) AS a, CAST(cs AS DOUBLE) AS b,
       CAST(c0 AS DOUBLE) AS c, CAST(c1 AS DOUBLE) AS d,
       CAST(c2 AS DOUBLE) AS e, CAST(c3 AS DOUBLE) AS f, 0.0 AS g
FROM rcs
"""


@q("exact_patterns", _EXACT_PATTERNS_SQL)
def exact_patterns_q(spark, sf_dir):
    """Seven raster-operator modes value-gated end to end on the
    closed-form pattern corpus: GDALPolygonize (alg/polygonize.cpp) emits
    one row per checkerboard block with exact comp_id/value/count/bbox,
    and in 8CONNECTED mode (alg/polygonize.cpp:87) exactly TWO components
    per image — all same-color blocks join through the corner pinches —
    with closed-form counts and full-extent bboxes;
    GDALSieveFilter (alg/gdalsievefilter.cpp) merges every 1-px defect and
    is pinned by before/after component counts plus the restored-image
    checksum; GDALComputeProximity (alg/gdalproximity.cpp) runs at native
    resolution on stripe targets where the chamfer distance is exact;
    the Wang viewshed (alg/viewshed/viewshed_executor.cpp) sees the whole
    grid from a descending cone's apex; GDALNearblack
    (apps/nearblack_lib.cpp) strips a frame collar plus the two-pixel
    grey-area allowance on every side, leaving a centered rectangle with
    closed-form counts and checksum; GDALFillNodata (alg/rasterfill.cpp)
    restores the exact constant on an all-equal hole boundary; the
    round-5 'rat' mode classifies the cone band through a 4-row min/max
    raster attribute table (gcore/gdal_rat.cpp GetRowOfValue) with
    closed-form per-class counts + class-raster checksum."""
    from .fixtures.patterns import pattern_images_df
    from .operators.rasterops import (fill_nodata_stats, nearblack_stats,
                                      viewshed_stats)
    from .operators.rat import classify_with_rat
    from .operators.vectorize import polygonize, proximity_map, sieve_filter

    n = 24
    zeros = [F.lit(0.0).alias(k) for k in ("d", "e", "f", "g")]
    p = polygonize(
        pattern_images_df(spark, "checker", n), quantize=64,
        downsample_to=None,
    ).select(
        F.lit("polygonize").alias("mode"), "image_id",
        F.col("comp_id").cast("double").alias("a"),
        F.col("value").cast("double").alias("b"),
        F.col("pixel_count").cast("double").alias("c"),
        F.col("min_row").cast("double").alias("d"),
        F.col("min_col").cast("double").alias("e"),
        F.col("max_row").cast("double").alias("f"),
        F.col("max_col").cast("double").alias("g"),
    )
    p8 = polygonize(
        pattern_images_df(spark, "checker", n), quantize=64,
        downsample_to=None, connectivity=8,
    ).select(
        F.lit("polygonize8").alias("mode"), "image_id",
        F.col("comp_id").cast("double").alias("a"),
        F.col("value").cast("double").alias("b"),
        F.col("pixel_count").cast("double").alias("c"),
        F.col("min_row").cast("double").alias("d"),
        F.col("min_col").cast("double").alias("e"),
        F.col("max_row").cast("double").alias("f"),
        F.col("max_col").cast("double").alias("g"),
    )
    s = sieve_filter(
        pattern_images_df(spark, "checker_defect", n), threshold=3,
        downsample_to=None,
    ).select(
        F.lit("sieve").alias("mode"), "image_id",
        F.col("n_before").cast("double").alias("a"),
        F.col("n_after").cast("double").alias("b"),
        F.col("cs").cast("double").alias("c"), *zeros,
    )
    x = proximity_map(
        pattern_images_df(spark, "stripes", n), target_value=0,
        downsample_to=None, round_to=None,
    ).select(
        F.lit("proximity").alias("mode"), "image_id",
        F.floor(F.col("dmax") * 10000 + 0.5).cast("double").alias("a"),
        F.floor(F.col("dmean") * 10000 + 0.5).cast("double").alias("b"),
        F.lit(0.0).alias("c"), *zeros,
    )
    v = viewshed_stats(pattern_images_df(spark, "cone", n)).select(
        F.lit("viewshed").alias("mode"), "image_id",
        F.col("n_visible").cast("double").alias("a"),
        F.col("frac_visible").alias("b"),
        F.col("cs").cast("double").alias("c"),
        F.col("corners_visible").cast("double").alias("d"),
        F.lit(0.0).alias("e"), F.lit(0.0).alias("f"), F.lit(0.0).alias("g"),
    )
    nb = nearblack_stats(
        pattern_images_df(spark, "frame", n), downsample_to=None,
    ).select(
        F.lit("nearblack").alias("mode"), "image_id",
        F.col("n_collar").cast("double").alias("a"),
        F.col("n_valid").cast("double").alias("b"),
        F.col("cs").cast("double").alias("c"), *zeros,
    )
    f = fill_nodata_stats(
        pattern_images_df(spark, "plateau_hole", n), nodata_below=8,
        max_distance=8, downsample_to=None,
    ).select(
        F.lit("fill_nodata").alias("mode"), "image_id",
        F.col("n_filled").cast("double").alias("a"),
        F.col("cs").cast("double").alias("b"),
        F.lit(0.0).alias("c"), *zeros,
    )
    rc = classify_with_rat(
        pattern_images_df(spark, "cone", n),
        [(0, 120, 0, "low"), (120, 150, 1, "mid"),
         (150, 180, 2, "high"), (180, 256, 3, "peak")],
    ).select(
        F.lit("rat").alias("mode"), "image_id",
        F.col("n_classes").cast("double").alias("a"),
        F.col("cs").cast("double").alias("b"),
        F.col("class_counts")[0].cast("double").alias("c"),
        F.col("class_counts")[1].cast("double").alias("d"),
        F.col("class_counts")[2].cast("double").alias("e"),
        F.col("class_counts")[3].cast("double").alias("f"),
        F.lit(0.0).alias("g"),
    )
    return (p.unionByName(p8).unionByName(s).unionByName(x)
            .unionByName(v).unionByName(nb).unionByName(f)
            .unionByName(rc))


# ---------------------------------------------------------------------------
# phash hamming dedup (oracle-able), ExecuteSQL surface, contour/fillnodata
# ---------------------------------------------------------------------------

# deterministic 62-bit "phash" from c_custkey (integer ops only, identical
# in both engines); every 10th key takes the PREVIOUS key's hash with 2 bits
# flipped — planted near-duplicates at Hamming 2, inside the 4x16-band LSH
# recall guarantee (a pair within Hamming <= 3 must share a band)
def _phash_formula(k: str, xor_fn) -> str:
    base = (
        f"{xor_fn}((({k}) * 2654435761) % 4611686018427387904, "
        f"((({k}) + 777) * 40503) % 4611686018427387904)"
    )
    return base


def _phash_case(xor_fn) -> str:
    f_pid = _phash_formula("pid", xor_fn)
    f_prev = _phash_formula("pid - 1", xor_fn)
    return (
        f"CASE WHEN pid % 10 = 0 THEN {xor_fn}({f_prev}, 3) ELSE {f_pid} END"
    )


# SimHash signature replay: 64 majority-vote bits over md5-derived token
# hashes (the gate's pluggable hash — xxhash64 has no DuckDB equivalent;
# the production numpy sign-sum kernel is shared).  Generated per-bit agg.
_SIMSIG_BITS_SQL = "\n    + ".join(
    f"CASE WHEN 2 * SUM(CAST((u >> {b}) & 1 AS BIGINT)) > COUNT(*)"
    f" THEN CAST('{1 << b}' AS UBIGINT) ELSE CAST('0' AS UBIGINT) END"
    for b in range(64))

_PHASH_PAIRS_SQL = f"""
WITH h AS (
  SELECT pid, {_phash_case('xor')} AS ph
  FROM (SELECT c_custkey AS pid FROM customer)
),
st AS (
  SELECT doc_id,
         unnest(string_split(
           lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
sb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         {_SIMSIG_BITS_SQL} AS usig
  FROM (SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 16) AS UBIGINT) AS u
        FROM st)
  GROUP BY 1
)
SELECT 'phash' AS mode, a.pid AS id_a, b.pid AS id_b,
       bit_count(xor(a.ph, b.ph)) AS v
FROM h a JOIN h b ON a.pid < b.pid
WHERE bit_count(xor(a.ph, b.ph)) <= 3
UNION ALL
SELECT 'simsig', doc_id,
       CAST(CAST(usig AS HUGEINT)
            - CASE WHEN usig >= CAST('9223372036854775808' AS UBIGINT)
                   THEN CAST('18446744073709551616' AS HUGEINT)
                   ELSE 0 END AS BIGINT),
       n_toks
FROM sb
"""


@q("phash_hamming_pairs", _PHASH_PAIRS_SQL)
def phash_hamming_pairs(spark, sf_dir):
    """Hash-dedup value-gate suite: banded Hamming LSH near-dup pairs
    over an int64 hash column (the image-dedup path for the input_hint
    ``phash``; oracle = exhaustive DuckDB cross join with
    bit_count(xor)), plus — round-5 fold — the production SimHash
    sign-sum signature kernel over md5-derived token hashes (mode
    'simsig': DuckDB replays all 64 majority-vote bits)."""
    from .operators.dedup import hamming_near_pairs, simhash_signatures

    register_tpch_views(spark, sf_dir)
    # Spark spells xor as the ^ operator; same integer math as the oracle
    h = spark.sql(
        "WITH k AS (SELECT c_custkey AS pid FROM customer) "
        "SELECT pid, CASE WHEN pid % 10 = 0 THEN "
        "((((pid - 1) * 2654435761) % 4611686018427387904) ^ "
        "((((pid - 1) + 777) * 40503) % 4611686018427387904)) ^ 3 "
        "ELSE (((pid * 2654435761) % 4611686018427387904) ^ "
        "(((pid + 777) * 40503) % 4611686018427387904)) END AS ph FROM k"
    )
    pairs = hamming_near_pairs(h, "ph", "pid", max_hamming=3).select(
        F.lit("phash").alias("mode"), "id_a", "id_b",
        F.col("hamming").cast("long").alias("v"))

    def md5_hash(t):
        ud = F.conv(F.substring(F.md5(t), 1, 16), 16, 10).cast(
            "decimal(20,0)")
        return F.when(
            ud > F.lit("9223372036854775807").cast("decimal(20,0)"),
            (ud - F.lit("18446744073709551616").cast("decimal(21,0)"))
            .cast("long")).otherwise(ud.cast("long"))

    docs = spark.table("documents")
    toks = F.split(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), " ")
    sigs = simhash_signatures(docs, token_hash=md5_hash).select(
        F.lit("simsig").alias("mode"), F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("id_b"),
        F.lit(None).cast("long").alias("v"))
    nt = docs.select(
        F.col("doc_id").alias("id_a"), F.size(toks).cast("long").alias("nt"))
    sigs = (sigs.join(nt, "id_a")
            .select("mode", "id_a", "id_b", F.col("nt").alias("v")))
    return pairs.unionByName(sigs)


_EXEC_SQL_TEXT = """
SELECT o_orderpriority AS priority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@q("execute_sql_dialect", _EXEC_SQL_TEXT)
def execute_sql_dialect(spark, sf_dir):
    """GDALDataset::ExecuteSQL surface (gcore/gdaldataset.cpp:7411): SQL over
    registered layers with the ST_* functions available; SPARKSQL dialect
    (the SQLite-dialect superset)."""
    from .sql.execute_sql import execute_sql

    return execute_sql(spark, _EXEC_SQL_TEXT, sf_dir=sf_dir)


# ---------------------------------------------------------------------------
# Round 2: generic convex-polygon overlay + polygon-with-holes + ST_* oracles
# ---------------------------------------------------------------------------

# Diamonds (45°-rotated squares) are axis-aligned squares in rotated
# coordinates (u, v) = (x + y, x - y), so the GENERIC Sutherland-Hodgman
# clip kernel on the Spark side can be value-oracled by closed-form
# u/v-overlap rectangle math in DuckDB: area_xy = du * dv / 2.
_POLY_INTER_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
{SUPPLIER_POINTS_CTE.strip()},
ad AS (
  SELECT pid AS aid,
         {T.sql_mx('lon')} + {T.sql_my('lat')} AS u,
         {T.sql_mx('lon')} - {T.sql_my('lat')} AS v,
         250000.0 + (pid % 7) * 50000.0 AS s
  FROM customer_points
),
bd AS (
  SELECT sid AS bid,
         {T.sql_mx('lon')} + {T.sql_my('lat')} AS u,
         {T.sql_mx('lon')} - {T.sql_my('lat')} AS v,
         1400000.0 AS s
  FROM supplier_points
)
SELECT a.aid, b.bid,
       -- ROUND, not floor: diamond sizes are round numbers, so overlap areas
       -- sit exactly ON integer-km2 boundaries; floor would flip on 1-ulp
       -- clip-interpolation noise, round-to-nearest is 0.5 away from it
       CAST(ROUND(
         (least(a.u + a.s, b.u + b.s) - greatest(a.u - a.s, b.u - b.s))
         * (least(a.v + a.s, b.v + b.s) - greatest(a.v - a.s, b.v - b.s))
         / 2.0 / 1000000.0, 0
       ) AS BIGINT) AS area_km2
FROM ad a JOIN bd b
  ON a.u - a.s < b.u + b.s AND a.u + a.s > b.u - b.s
 AND a.v - a.s < b.v + b.s AND a.v + a.s > b.v - b.s
"""


# gdal vector check-coverage fixture: a 5x5 grid of 8x8 squares on a
# 40x40 unit extent.  Four parity-isolated interior squares are shrunk on
# their right edge by k cells (leaving enclosed k-wide sliver gaps whose
# raster inscribed width is exactly 2*ceil(k/2)); square (0,0) is extended
# +2 right and (4,4) +3 up to plant two interior-overlap pairs.  With
# maximum-gap-width 5 the k=7 sliver (width 8) must be rejected.
_COVERAGE_SHRINK = ((1, 2, 3), (2, 1, 1), (2, 3, 1), (3, 2, 7))

_LAYER_SUITE_SQL = f"""
WITH inter AS ({_POLY_INTER_SQL}),
grid AS (
  SELECT r, c, CAST(r*5 + c + 1 AS BIGINT) AS fid,
         8.0*c AS x0, 32.0 - 8.0*r AS y0,
         8.0*c + 8.0
           - CASE WHEN r=1 AND c=2 THEN 3 WHEN r=2 AND c=1 THEN 1
                  WHEN r=2 AND c=3 THEN 1 WHEN r=3 AND c=2 THEN 7
                  ELSE 0 END
           + CASE WHEN r=0 AND c=0 THEN 2 ELSE 0 END AS x1,
         40.0 - 8.0*r + CASE WHEN r=4 AND c=4 THEN 3 ELSE 0 END AS y1
  FROM (SELECT unnest(generate_series(0, 4)) AS r) rs
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS c) cs
)
SELECT 'inter' AS mode, CAST(aid AS BIGINT) AS a, CAST(bid AS BIGINT) AS b,
       area_km2 AS v1, CAST(0 AS BIGINT) AS v2
FROM inter
UNION ALL
SELECT 'overlap', ga.fid, gb.fid,
       CAST(ROUND(1000.0 * (least(ga.x1, gb.x1) - greatest(ga.x0, gb.x0))
                         * (least(ga.y1, gb.y1) - greatest(ga.y0, gb.y0)))
            AS BIGINT),
       CAST(0 AS BIGINT)
FROM grid ga JOIN grid gb ON ga.fid < gb.fid
 AND least(ga.x1, gb.x1) > greatest(ga.x0, gb.x0)
 AND least(ga.y1, gb.y1) > greatest(ga.y0, gb.y0)
UNION ALL
SELECT 'gap', CAST(ROUND(1000.0 * (8.0*c + 8.0 - k/2.0)) AS BIGINT),
       CAST(ROUND(1000.0 * (36.0 - 8.0*r)) AS BIGINT),
       CAST(8*k AS BIGINT), CAST(2000 * CEIL(k / 2.0) AS BIGINT)
FROM (VALUES {", ".join(f"({r}, {c}, {k})" for r, c, k in _COVERAGE_SHRINK)})
     s(r, c, k)
WHERE 2 * CEIL(k / 2.0) <= 5
UNION ALL
-- clean-coverage overlap merge: two rect pairs.  Pair (31, 32) uses
-- longest-border: piece edges coinciding with a B edge line border A's
-- remainder and vice versa (axis-aligned closed form); pair (41, 42)
-- uses min-area (smaller polygon keeps the piece).  Loser area = own
-- minus overlap.
SELECT 'merge', m.fid, CAST(0 AS BIGINT),
       CAST(ROUND(1000.0 * m.area) AS BIGINT), CAST(0 AS BIGINT)
FROM (
  WITH mr AS (
    SELECT * FROM (VALUES
      (CAST(31 AS BIGINT), 0.0, 0.0, 4.0, 10.0),
      (CAST(32 AS BIGINT), 2.0, 3.0, 12.0, 7.0),
      (CAST(41 AS BIGINT), 0.0, 0.0, 10.0, 10.0),
      (CAST(42 AS BIGINT), 9.0, 2.0, 20.0, 8.0)) v(fid, x0, y0, x1, y1)
  ), pr AS (
    SELECT a.fid AS fa, b.fid AS fb,
           (a.x1 - a.x0) * (a.y1 - a.y0) AS area_a,
           (b.x1 - b.x0) * (b.y1 - b.y0) AS area_b,
           GREATEST(a.x0, b.x0) AS gx0, GREATEST(a.y0, b.y0) AS gy0,
           LEAST(a.x1, b.x1) AS gx1, LEAST(a.y1, b.y1) AS gy1,
           a.x0 AS ax0, a.x1 AS ax1, a.y0 AS ay0, a.y1 AS ay1,
           b.x0 AS bx0, b.x1 AS bx1, b.y0 AS by0, b.y1 AS by1
    FROM mr a JOIN mr b ON a.fid + 1 = b.fid AND a.fid % 10 = 1
  ), dec AS (
    SELECT *,
      (gy1 - gy0) * (CAST(gx0 IN (bx0, bx1) AS INT)
                     + CAST(gx1 IN (bx0, bx1) AS INT))
      + (gx1 - gx0) * (CAST(gy0 IN (by0, by1) AS INT)
                       + CAST(gy1 IN (by0, by1) AS INT)) AS with_a,
      (gy1 - gy0) * (CAST(gx0 IN (ax0, ax1) AS INT)
                     + CAST(gx1 IN (ax0, ax1) AS INT))
      + (gx1 - gx0) * (CAST(gy0 IN (ay0, ay1) AS INT)
                       + CAST(gy1 IN (ay0, ay1) AS INT)) AS with_b,
      (gx1 - gx0) * (gy1 - gy0) AS piece
    FROM pr
  ), res AS (
    SELECT fa, fb, area_a, area_b, piece,
           CASE WHEN fa = 31 THEN (with_a >= with_b)  -- longest-border
                ELSE (area_a <= area_b) END AS a_wins  -- min-area
    FROM dec
  )
  SELECT fa AS fid, CASE WHEN a_wins THEN area_a
                         ELSE area_a - piece END AS area FROM res
  UNION ALL
  SELECT fb, CASE WHEN a_wins THEN area_b - piece ELSE area_b END
  FROM res
) m
UNION ALL
-- clean-coverage snap + gap close: jittered noded 3x3 grid (cell 8),
-- snap grid 2^-5 restores exact integers, then gaps of inscribed width
-- <= 3 close: the 1x8 sliver (width 2) merges into its longest-border
-- neighbour — the two 8-unit side arcs tie and the arc-key tiebreak
-- lands on fid 5 (pinned; deterministic for this fixed geometry) — the
-- 6x8 gap (width 8) stays open.
SELECT 'clean', CAST(cr*3 + cc + 1 AS BIGINT), CAST(0 AS BIGINT),
       CAST(1000 * (64
            - CASE WHEN cr=1 AND cc=0 THEN 8 ELSE 0 END
            - CASE WHEN cr=1 AND cc=2 THEN 48 ELSE 0 END
            + CASE WHEN cr=1 AND cc=1 THEN 8 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT)
FROM (SELECT unnest(generate_series(0, 2)) AS cr) crr
CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS cc) ccc
UNION ALL
-- simplify-coverage: 3x3 zigzag grid, tolerance 1.5, preserve-boundary.
-- Every interior zigzag border (7 extra vertices, VW effective areas
-- <= 1.6 < 2.25) straightens to its corner chord, so all areas return to
-- exactly 64; square (0,0)'s OUTER zigzag is preserved (+4 teeth = +1.6).
SELECT 'simp', CAST(sr*3 + sc + 1 AS BIGINT),
       CAST(CASE WHEN sr=0 AND sc=0 THEN 12 ELSE 5 END AS BIGINT),
       CAST(CASE WHEN sr=0 AND sc=0 THEN 65600 ELSE 64000 END AS BIGINT),
       CAST(5 + CASE WHEN sc < 2 THEN 7 ELSE 0 END
              + CASE WHEN sc > 0 THEN 7 ELSE 0 END
              + CASE WHEN sr=0 AND sc=0 THEN 7 ELSE 0 END AS BIGINT)
FROM (SELECT unnest(generate_series(0, 2)) AS sr) srr
CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS sc) scc
"""


def _simplify_fixture_df(spark):
    """3x3 grid of 8x8 squares whose interior vertical borders (and the
    outer left edge of square (0,0)) carry a 7-vertex zigzag of amplitude
    0.4 — the shared-arc VW fixture of _LAYER_SUITE_SQL's 'simp' mode."""
    import pandas as _pdl

    from .oracle import geom as G

    def zig(x, ylo, dx, up):
        pts = [(x + (dx if i % 2 == 1 else 0.0), ylo + i)
               for i in range(1, 8)]
        return pts if up else pts[::-1]

    rows = []
    for r in range(3):
        for c in range(3):
            x0, x1 = 8.0 * c, 8.0 * c + 8.0
            y1, y0 = 24.0 - 8.0 * r, 16.0 - 8.0 * r
            ring = [(x0, y0), (x1, y0)]
            if c < 2:
                ring += zig(x1, y0, 0.4, True)
            ring += [(x1, y1), (x0, y1)]
            if c > 0:
                ring += zig(x0, y0, 0.4, False)
            elif r == 0:
                ring += zig(x0, y0, -0.4, False)
            ring.append((x0, y0))
            rows.append((r * 3 + c + 1, G.to_wkb("polygon", [ring])))
    return spark.createDataFrame(
        _pdl.DataFrame(rows, columns=["fid", "wkb"]),
        schema="fid long, wkb binary")


def _merge_fixture_df(spark, pair):
    """The two overlap-merge rect pairs of _LAYER_SUITE_SQL's 'merge'
    mode: pair 31/32 (longest-border) and 41/42 (min-area)."""
    import pandas as _pdl

    from .oracle import geom as G

    rects = {31: (0.0, 0.0, 4.0, 10.0), 32: (2.0, 3.0, 12.0, 7.0),
             41: (0.0, 0.0, 10.0, 10.0), 42: (9.0, 2.0, 20.0, 8.0)}
    rows = []
    for fid in pair:
        x0, y0, x1, y1 = rects[fid]
        rows.append((fid, G.to_wkb(
            "polygon",
            [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])))
    return spark.createDataFrame(
        _pdl.DataFrame(rows, columns=["fid", "wkb"]),
        schema="fid long, wkb binary")


def _clean_fixture_df(spark):
    """Jittered NODED 3x3 grid (unit-densified 8x8 squares) for the
    'clean' mode: square (1,0) shrunk 1 (sliver gap, one vertex jittered
    off-grid), square (1,2) shrunk 6 (wide gap that must stay)."""
    import numpy as _npl

    import pandas as _pdl

    from .oracle import geom as G

    def dense_rect(x0, y0, x1, y1, jitter=None):
        pts = []
        xs = list(_npl.arange(x0, x1)) + [x1]
        ys = list(_npl.arange(y0, y1)) + [y1]
        for x in xs[:-1]:
            pts.append((float(x), float(y0)))
        for y in ys[:-1]:
            pts.append((float(x1), float(y)))
        for x in xs[:0:-1]:
            pts.append((float(x), float(y1)))
        for y in ys[:0:-1]:
            pts.append((float(x0), float(y)))
        pts.append(pts[0])
        if jitter:
            jx, jy, dx, dy = jitter
            pts = [(px + dx, py + dy) if (px, py) == (jx, jy)
                   else (px, py) for px, py in pts]
        return G.to_wkb("polygon", [pts])

    rows = []
    for r in range(3):
        for c in range(3):
            x0, x1 = 8.0 * c, 8.0 * c + 8.0
            y1, y0 = 24.0 - 8.0 * r, 16.0 - 8.0 * r
            jit = None
            if (r, c) == (1, 0):
                x1 -= 1.0
                jit = (3.0, 16.0, 0.002, -0.001)
            if (r, c) == (1, 2):
                x0 += 6.0
            rows.append((r * 3 + c + 1, dense_rect(x0, y0, x1, y1, jit)))
    return spark.createDataFrame(
        _pdl.DataFrame(rows, columns=["fid", "wkb"]),
        schema="fid long, wkb binary")


def _coverage_fixture_df(spark):
    """The 25-square coverage layer of _LAYER_SUITE_SQL as (fid, wkb)."""
    import pandas as _pdl

    from .oracle import geom as G

    shrink = {(r, c): k for r, c, k in _COVERAGE_SHRINK}
    rows = []
    for r in range(5):
        for c in range(5):
            x0, x1 = 8.0 * c, 8.0 * c + 8.0 - shrink.get((r, c), 0)
            y0, y1 = 32.0 - 8.0 * r, 40.0 - 8.0 * r
            if (r, c) == (0, 0):
                x1 += 2.0
            if (r, c) == (4, 4):
                y1 += 3.0
            rows.append((r * 5 + c + 1, G.to_wkb(
                "polygon",
                [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])))
    return spark.createDataFrame(
        _pdl.DataFrame(rows, columns=["fid", "wkb"]),
        schema="fid long, wkb binary")


@q("poly_intersection_area", _LAYER_SUITE_SQL)
def poly_intersection_area(spark, sf_dir):
    """Layer-algebra + coverage-check suite (three modes, one gate):

    * inter — OGRLayer::Intersection (ogrlayer.cpp:5385) on GENERIC
      convex polygons: diamond layers from customer/supplier points run
      the covering-cell pair join + Sutherland-Hodgman clip
      (oracle/geom.py); DuckDB oracles the area via the rotated-
      coordinate closed form.
    * overlap — gdal vector check-coverage overlap half
      (apps/gdalalg_vector_check_coverage.cpp): interior-overlap pairs
      of the 25-square fixture via the covering-cell self-join + exact
      polygon-overlay areas.
    * gap — check-coverage maximum-gap-width half (GEOSCoverageIsValid
      gapWidth semantics): distributed tile+halo raster analysis with
      cross-tile component stitching; enclosed slivers of inscribed
      width <= 5 reported with pixel area / width / centroid, the k=7
      sliver and the unbounded outside rejected.
    * simp — gdal vector simplify-coverage
      (apps/gdalalg_vector_simplify_coverage.cpp ->
      GEOSCoverageSimplifyVW): shared-arc Visvalingam-Whyatt at
      tolerance 1.5 with preserve-boundary; interior zigzags straighten
      exactly (areas return to 64), the exterior zigzag survives.
    * merge — gdal vector clean-coverage overlap merge
      (apps/gdalalg_vector_clean_coverage.cpp merge-strategy):
      longest-border and min-area rect pairs, loser areas replayed via
      axis-aligned border/area closed forms.
    * clean — clean-coverage snapping-distance + maximum-gap-width:
      jittered noded grid snaps back to exact integers (2^-5 grid),
      then the 1x8 sliver closes into its longest-border neighbour by
      an exact arc-loop splice while the 6x8 gap stays."""
    from .functions.geometry import diamond_wkb
    from .operators.layer_algebra import (check_coverage,
                                          check_coverage_gaps,
                                          clean_coverage,
                                          close_coverage_gaps,
                                          poly_intersection,
                                          simplify_coverage,
                                          snap_coverage)

    register_tpch_views(spark, sf_dir)
    a = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()} SELECT pid AS aid, "
        f"{T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my, "
        f"250000.0 + (pid % 7) * 50000.0 AS s FROM customer_points"
    ).select("aid", diamond_wkb("mx", "my", "s").alias("wkb"))
    b = spark.sql(
        f"WITH {SUPPLIER_POINTS_CTE.strip()} SELECT sid AS bid, "
        f"{T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my, "
        f"1400000.0 AS s FROM supplier_points"
    ).select("bid", diamond_wkb("mx", "my", "s").alias("wkb"))
    inter = poly_intersection(a, b).select(
        F.lit("inter").alias("mode"),
        F.col("aid").cast("long").alias("a"),
        F.col("bid").cast("long").alias("b"),
        F.round(F.col("area") / 1000000.0, 0).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    cov = _coverage_fixture_df(spark)
    ov = check_coverage(cov).select(
        F.lit("overlap").alias("mode"),
        F.col("fid_a").cast("long").alias("a"),
        F.col("fid_b").cast("long").alias("b"),
        F.round(F.col("area") * 1000.0, 0).cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    gaps = check_coverage_gaps(
        cov, 0.0, 40.0, 1.0, 40, 40, max_gap_width=5.0, tile_px=16,
    ).select(
        F.lit("gap").alias("mode"),
        F.round(F.col("cx") * 1000.0, 0).cast("long").alias("a"),
        F.round(F.col("cy") * 1000.0, 0).cast("long").alias("b"),
        F.col("npix").cast("long").alias("v1"),
        F.round(F.col("width") * 1000.0, 0).cast("long").alias("v2"),
    )
    from .sql.ogr_compat import register_st_functions

    register_st_functions(spark)
    sfx = _simplify_fixture_df(spark)
    before = sfx.select(
        "fid", F.expr("ST_NPoints(wkb)").alias("n_before"))
    simped = simplify_coverage(sfx, tolerance=1.5, preserve_boundary=True)
    simp = (simped
            .select("fid", F.expr("ST_NPoints(wkb)").alias("n_after"),
                    F.expr("ST_Area(wkb)").alias("area"))
            .join(before, "fid")
            .select(
                F.lit("simp").alias("mode"),
                F.col("fid").cast("long").alias("a"),
                F.col("n_after").cast("long").alias("b"),
                F.round(F.col("area") * 1000.0, 0).cast("long").alias("v1"),
                F.col("n_before").cast("long").alias("v2"),
            ))
    def _area_rows(df, mode_name):
        return df.select(
            F.lit(mode_name).alias("mode"),
            F.col("fid").cast("long").alias("a"),
            F.lit(0).cast("long").alias("b"),
            F.round(F.expr("ST_Area(wkb)") * 1000.0, 0).cast("long")
            .alias("v1"),
            F.lit(0).cast("long").alias("v2"),
        )

    merge = _area_rows(
        clean_coverage(_merge_fixture_df(spark, (31, 32)),
                       merge_strategy="longest-border"), "merge"
    ).unionByName(_area_rows(
        clean_coverage(_merge_fixture_df(spark, (41, 42)),
                       merge_strategy="min-area"), "merge"))
    clean = _area_rows(
        close_coverage_gaps(
            snap_coverage(_clean_fixture_df(spark), 0.03125),
            max_gap_width=3.0), "clean")
    return (inter.unionByName(ov).unionByName(gaps).unionByName(simp)
            .unionByName(merge).unionByName(clean))


# Donut (polygon with a hole): outer/inner boxes with off-representable
# boundaries, so strict-bbox logic in DuckDB equals the even-odd ray cast.
_DONUT = (-9876543.219, -4567890.129, 11234567.891, 6789012.341,
          -2345678.912, -1234567.891, 4567890.123, 2345678.912)

_PIP_HOLES_SQL = f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
pts AS (
  SELECT pid, {T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my
  FROM customer_points
)
SELECT pid FROM pts
WHERE mx > {T._d(_DONUT[0])} AND mx < {T._d(_DONUT[2])}
  AND my > {T._d(_DONUT[1])} AND my < {T._d(_DONUT[3])}
  AND NOT (mx > {T._d(_DONUT[4])} AND mx < {T._d(_DONUT[6])}
       AND my > {T._d(_DONUT[5])} AND my < {T._d(_DONUT[7])})
"""


def pip_holes_join(spark, sf_dir):
    """Point-in-polygon WITH HOLES: even-odd ray cast XORed across rings
    (ogrlinearring.cpp:452-517 applied per ring) through the ST_Within SQL
    surface; oracle = outer-box minus inner-box bbox logic."""
    from .sql.ogr_compat import register_st_functions

    register_tpch_views(spark, sf_dir)
    register_st_functions(spark)
    x0, y0, x1, y1, hx0, hy0, hx1, hy1 = _DONUT
    donut_wkt = (
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}), "
        f"({hx0} {hy0}, {hx0} {hy1}, {hx1} {hy1}, {hx1} {hy0}, {hx0} {hy0}))"
    )
    return spark.sql(
        f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
pts AS (
  SELECT pid, ST_MakePoint({T.sql_mx('lon')}, {T.sql_my('lat')}) AS p
  FROM customer_points
)
SELECT pid FROM pts
WHERE ST_Within(p, ST_GeomFromText('{donut_wkt}'))
"""
    )


# Consecutive-order travel distance per customer: ST_MakePoint + window LAG
# + ST_Distance on the Spark side; plain sqrt window math in DuckDB.
_ST_DIST_SEQ_SQL = f"""
WITH op AS (
  SELECT o_custkey AS cid, o_orderkey AS oid,
         CASE WHEN o_orderkey % 5 = 0
              THEN 2.3 + CAST((o_orderkey * 13) % 100 AS DOUBLE) / 1000.0
              ELSE CAST((o_orderkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0
         END AS lon,
         CASE WHEN o_orderkey % 5 = 0
              THEN 48.8 + CAST((o_orderkey * 17) % 100 AS DOUBLE) / 1000.0
              ELSE CAST((o_orderkey * 15485863) % 17000 AS DOUBLE) / 100.0 - 85.0
         END AS lat
  FROM orders
),
seq AS (
  SELECT cid, oid, {T.sql_mx('lon')} AS mx, {T.sql_my('lat')} AS my,
         LAG({T.sql_mx('lon')}) OVER (PARTITION BY cid ORDER BY oid) AS pmx,
         LAG({T.sql_my('lat')}) OVER (PARTITION BY cid ORDER BY oid) AS pmy
  FROM op
)
SELECT cid, oid,
       CAST(floor(sqrt((mx - pmx) * (mx - pmx) + (my - pmy) * (my - pmy))) AS BIGINT) AS seg_m
FROM seq WHERE pmx IS NOT NULL
"""


@q("st_distance_seq", _ST_DIST_SEQ_SQL)
def st_distance_seq(spark, sf_dir):
    """ST_Distance between each customer's consecutive order points (window
    LAG over geometry columns) — oracles the point fast path + distance
    kernel against plain SQL sqrt math."""
    from .sql.ogr_compat import register_st_functions

    register_tpch_views(spark, sf_dir)
    register_st_functions(spark)
    return spark.sql(
        f"""
WITH op AS (
  SELECT o_custkey AS cid, o_orderkey AS oid,
         CASE WHEN o_orderkey % 5 = 0
              THEN 2.3 + CAST((o_orderkey * 13) % 100 AS DOUBLE) / 1000.0
              ELSE CAST((o_orderkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0
         END AS lon,
         CASE WHEN o_orderkey % 5 = 0
              THEN 48.8 + CAST((o_orderkey * 17) % 100 AS DOUBLE) / 1000.0
              ELSE CAST((o_orderkey * 15485863) % 17000 AS DOUBLE) / 100.0 - 85.0
         END AS lat
  FROM orders
),
seq AS (
  SELECT cid, oid,
         ST_MakePoint({T.sql_mx('lon')}, {T.sql_my('lat')}) AS p,
         LAG(ST_MakePoint({T.sql_mx('lon')}, {T.sql_my('lat')}))
           OVER (PARTITION BY cid ORDER BY oid) AS pp
  FROM op
)
SELECT cid, oid,
       CAST(floor(ST_Distance(p, pp)) AS BIGINT) AS seg_m
FROM seq WHERE pp IS NOT NULL
"""
    )


# Conic CRS forward-transform value oracle: LCC 2SP and south polar
# stereographic are closed-form (Snyder PP 1395 eqs 15-1..15-11 /
# 21-33..21-41), so DuckDB can replay the exact double algebra (projection
# constants embedded at 17 significant digits; both sides evaluate in C
# libm with the same operation order).
def _conic_sql() -> str:
    from .oracle import conic as CC

    lcc = CC.lcc_europe()
    st = CC.epsg_3031()
    d = T._d
    e, eh, A = d(CC._E), d(CC._E / 2.0), d(CC._A)
    t_lat = (f"tan(pi() / 4 - radians(lat) / 2) / "
             f"pow((1 - {e} * sin(radians(lat))) / "
             f"(1 + {e} * sin(radians(lat))), {eh})")
    t_neg = (f"tan(pi() / 4 - (-radians(lat)) / 2) / "
             f"pow((1 - {e} * sin(-radians(lat))) / "
             f"(1 + {e} * sin(-radians(lat))), {eh})")
    lcc_rho = f"{A} * {d(lcc.F)} * pow({t_lat}, {d(lcc.n)})"
    lcc_th = f"{d(lcc.n)} * (radians(lon) - {d(lcc.lon0)})"
    st_rho = f"{A} * {d(st.mc)} * ({t_neg}) / {d(st.tc)}"
    # round-5: Albers equal-area + MODIS sinusoidal forwards in the same
    # gate (op order mirrors oracle/conic.py term-for-term so the doubles
    # are bit-identical before ROUND)
    ab = CC.albers_conus()
    sn = CC.sinu_modis()
    s_ = "sin(radians(lat))"
    q_lat = (f"{d(1.0 - CC._E2)} * ({s_} / (1 - {d(CC._E2)} * {s_} * {s_})"
             f" - {d(1.0 / (2.0 * CC._E))}"
             f" * ln((1 - {e} * {s_}) / (1 + {e} * {s_})))")
    ab_rho = f"{A} * sqrt({d(ab.C)} - {d(ab.n)} * ({q_lat})) / {d(ab.n)}"
    ab_th = f"{d(ab.n)} * (radians(lon) - {d(ab.lon0)})"
    return f"""
WITH {CUSTOMER_POINTS_CTE.strip()},
pts AS (SELECT pid, lon, lat FROM customer_points WHERE pid <= 120)
SELECT pid, 'lcc' AS proj,
       ROUND({d(lcc.fe)} + ({lcc_rho}) * sin({lcc_th}), 3) AS e3,
       ROUND({d(lcc.fn)} + {d(lcc.rho0)} - ({lcc_rho}) * cos({lcc_th}), 3)
         AS n3
FROM pts
UNION ALL
SELECT pid, 'stereo_3031' AS proj,
       ROUND(({st_rho}) * sin(radians(lon)), 3) AS e3,
       ROUND(({st_rho}) * cos(radians(lon)), 3) AS n3
FROM pts
UNION ALL
SELECT pid, 'albers' AS proj,
       ROUND(({ab_rho}) * sin({ab_th}), 3) AS e3,
       ROUND({d(ab.rho0)} - ({ab_rho}) * cos({ab_th}), 3) AS n3
FROM pts
UNION ALL
SELECT pid, 'sinu' AS proj,
       ROUND({d(sn.R)} * (radians(lon) - 0.0) * cos(radians(lat)), 3) AS e3,
       ROUND({d(sn.R)} * radians(lat), 3) AS n3
FROM pts
"""


@q("conic_forward", _conic_sql())
def conic_forward_q(spark, sf_dir):
    """Coordinate transform beyond UTM/mercator: Lambert conformal conic
    2SP and EPSG:3031 polar stereographic forwards (oracle/conic.py,
    the OGRCoordinateTransformation role, ogr/ogrct.cpp:2359) —
    value-gated against DuckDB replaying Snyder's closed forms."""
    from pyspark.sql.types import ArrayType, DoubleType

    from .oracle import conic as CC

    prjs = {"lcc": CC.lcc_europe(), "stereo_3031": CC.epsg_3031(),
            "albers": CC.albers_conus(), "sinu": CC.sinu_modis()}

    @F.pandas_udf(ArrayType(DoubleType()))
    def fwd(lon: pd.Series, lat: pd.Series, which: pd.Series) -> pd.Series:
        lo = lon.to_numpy()
        la = lat.to_numpy()
        wh = which.to_numpy()
        out = np.empty((len(lo), 2))
        for key, prj in prjs.items():
            m = wh == key
            if m.any():
                out[m, 0], out[m, 1] = prj.forward(lo[m], la[m])
        # round numpy-side: np.round(x, 3) == DuckDB ROUND on the same
        # bit-identical double (JVM BigDecimal rounding pairs differently)
        out = np.round(out, 3)
        return pd.Series([list(r) for r in out])

    register_tpch_views(spark, sf_dir)
    pts = spark.sql(
        f"WITH {CUSTOMER_POINTS_CTE.strip()} "
        "SELECT pid, lon, lat FROM customer_points WHERE pid <= 120"
    )
    both = pts.select(
        "pid", "lon", "lat",
        F.explode(F.array(*[F.lit(k) for k in prjs])).alias("proj"),
    ).select("pid", "proj", fwd("lon", "lat", "proj").alias("en"))
    return both.select(
        "pid", "proj",
        F.element_at("en", 1).alias("e3"),
        F.element_at("en", 2).alias("n3"),
    )


# Multidim value oracle: the cube is the closed form v = t*1e4 + y*1e2 + x,
# so the time-mean over the hyperslab [3:9, 5:25, 7:32] is
# mean(t in 3..8)*1e4 + y*1e2 + x = 55000 + y*100 + x, enumerable in SQL.
_MD_SLAB_SQL = """
SELECT CAST(y.a AS BIGINT) AS y, CAST(x.a AS BIGINT) AS x,
       55000.0 + y.a * 100.0 + x.a AS value
FROM (SELECT unnest(generate_series(5, 24)) AS a) y
CROSS JOIN (SELECT unnest(generate_series(7, 31)) AS a) x
"""


@q("md_hyperslab_mean", _MD_SLAB_SQL)
def md_hyperslab_mean_q(spark, sf_dir):
    """Multidim chunked-array pipeline value-gated end to end: chunk a
    (time, y, x) cube, take a chunk-crossing hyperslab (GDALMDArray::Read
    start+count semantics), reduce the time dimension (per-chunk partials
    + groupBy merge), and emit element rows — DuckDB enumerates the exact
    closed-form expectations."""
    import pandas as pd

    from .operators.multidim import (
        MDMeta, array_to_chunks, hyperslab, reduce_dim,
    )

    t, y, x = np.meshgrid(np.arange(12), np.arange(30), np.arange(40),
                          indexing="ij")
    cube = (t * 10000.0 + y * 100.0 + x).astype(np.float64)
    meta = MDMeta("v", [("time", 12), ("y", 30), ("x", 40)], [5, 16, 16])
    df = array_to_chunks(spark, cube, meta)
    slab = hyperslab(df, meta, (3, 5, 7), (6, 20, 25))
    red = reduce_dim(slab, MDMeta("v", [("time", 6), ("y", 20), ("x", 25)],
                                  [5, 16, 16]), dim=0, op="mean")

    # the reduced slab is small by construction — reassemble driver-side
    # and emit element rows (large reductions stay chunked; see multidim.py)
    from .operators.multidim import chunks_to_array

    arr2 = chunks_to_array(red, 2)
    rows = [
        dict(y=int(iy + 5), x=int(ix + 7), value=float(v))
        for (iy, ix), v in np.ndenumerate(arr2)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["y", "x", "value"]))


def all_queries():
    return {name: fn for name, (fn, _) in QUERIES.items()}


def all_oracles():
    return {name: oracle for name, (_, oracle) in QUERIES.items()}


# ---------------------------------------------------------------------------
# Consolidated oracled gates (round-4 VERDICT #4): component queries above
# keep their own functions/SQL; each family below unions them under one
# registry slot with a tag column so every distinct oracle fits the
# driver's 50-query grading cap.
# ---------------------------------------------------------------------------

_GRID_MERGED_SQL = f"""
SELECT 'idw' AS alg, px, py, value, n FROM ({_GRID_IDW_SQL.strip()})
UNION ALL
SELECT 'movavg' AS alg, px, py, value, n FROM ({_GRID_MOVAVG_SQL.strip()})
UNION ALL
SELECT 'idw_nn' AS alg, px, py, value, n FROM ({_GRID_IDW_NN_SQL.strip()})
"""


@q("grid_interpolation", _GRID_MERGED_SQL)
def grid_interpolation_q(spark, sf_dir):
    """gdalgrid algorithm suite in one gate (alg/gdalgrid.cpp): inverse
    distance (:110), rotated-ellipse moving average (:630), and
    nearest-neighbor-bounded IDW (:905) — each component's oracle SQL
    unioned under an alg tag."""
    parts = [
        grid_idw(spark, sf_dir).withColumn("alg", F.lit("idw")),
        grid_movavg_ellipse(spark, sf_dir).withColumn("alg", F.lit("movavg")),
        grid_idw_nn(spark, sf_dir).withColumn("alg", F.lit("idw_nn")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("alg", "px", "py", "value", "n")


_RASTERIZE_MERGED_SQL = f"""
SELECT 'points_add' AS mode, px, py, CAST(n AS DOUBLE) AS v
FROM ({_RASTERIZE_COUNT_SQL.strip()})
UNION ALL
SELECT 'attr_add' AS mode, px, py, v
FROM ({_RASTERIZE_ATTR_SQL.format(RECTS=_CUSTOMER_RECTS.strip()).strip()})
UNION ALL
SELECT 'all_touched' AS mode, px, py, v
FROM ({_RASTERIZE_AT_SQL.format(RECTS=_CUSTOMER_RECTS.strip()).strip()})
"""


@q("rasterize_options", _RASTERIZE_MERGED_SQL)
def rasterize_options_q(spark, sf_dir):
    """gdal_rasterize option surface in one gate (alg/gdalrasterize.cpp):
    point burn in ADD mode (density grid), attribute burn -a with -add
    accumulation (:796-811), and ALL_TOUCHED Amanatides-Woo traversal with
    replace-mode last-feature-wins."""
    parts = [
        rasterize_point_counts_q(spark, sf_dir).select(
            F.lit("points_add").alias("mode"), "px", "py",
            F.col("n").cast("double").alias("v")),
        rasterize_attr_add_q(spark, sf_dir).select(
            F.lit("attr_add").alias("mode"), "px", "py", "v"),
        rasterize_all_touched_q(spark, sf_dir).select(
            F.lit("all_touched").alias("mode"), "px", "py", "v"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# gdalwarp -r average box-stat value oracle: per destination pixel the
# corner-transformed source box (GWKAverageOrMode floor(min+1e-10)/
# ceil(max-1e-10) snap, clipped non-empty — gdalwarpkernel.cpp:7841) is
# averaged over the closed-form source gradient.  The 3857->4326 chain is
# separable, so the 4-corner min/max per pixel reduces to per-axis edge
# pairs (one cols CTE, one rows CTE), keeping the replay O(w + h + w*h).
_WARP_CHAIN_PREFIX = _WARP_CS_SQL.split("px AS (")[0]
_WARP_BOXAVG_SQL = _WARP_CHAIN_PREFIX + f"""cols AS (
  SELECT d.i, d.w AS w, CAST(cc.a AS BIGINT) AS c,
    ({T.sql_mx("d.minlon + cc.a * d.resx")} - d.gt0) / d.gsd AS e0,
    ({T.sql_mx("d.minlon + (cc.a + 1) * d.resx")} - d.gt0) / d.gsd AS e1
  FROM dst d, LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS a) cc
),
colbox AS (
  SELECT i, c,
    GREATEST(LEAST(CAST(floor(LEAST(e0, e1) + 1e-10) AS BIGINT), w - 1),
             0) AS x0,
    GREATEST(GREATEST(LEAST(CAST(ceil(GREATEST(e0, e1) - 1e-10) AS BIGINT),
                            w), 1),
             GREATEST(LEAST(CAST(floor(LEAST(e0, e1) + 1e-10) AS BIGINT),
                            w - 1), 0) + 1) AS x1
  FROM cols
),
rows0 AS (
  SELECT d.i, d.h AS h, CAST(rr.a AS BIGINT) AS r,
    ({T.sql_my("d.maxlat - rr.a * d.resy")} - d.gt3) / (-d.gsd) AS e0,
    ({T.sql_my("d.maxlat - (rr.a + 1) * d.resy")} - d.gt3) / (-d.gsd) AS e1
  FROM dst d, LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS a) rr
),
rowbox AS (
  SELECT i, r,
    GREATEST(LEAST(CAST(floor(LEAST(e0, e1) + 1e-10) AS BIGINT), h - 1),
             0) AS y0,
    GREATEST(GREATEST(LEAST(CAST(ceil(GREATEST(e0, e1) - 1e-10) AS BIGINT),
                            h), 1),
             GREATEST(LEAST(CAST(floor(LEAST(e0, e1) + 1e-10) AS BIGINT),
                            h - 1), 0) + 1) AS y1
  FROM rows0
),
px2 AS (
  SELECT d.i, d.w, d.h,
         CAST(k.a AS BIGINT) AS flat,
         CAST(k.a AS BIGINT) % d.w AS c,
         CAST(k.a AS BIGINT) // d.w AS r,
         ({T.sql_mx("d.minlon + (CAST(k.a AS BIGINT) % d.w + 0.5) * d.resx")}
          - d.gt0) / d.gsd AS fx,
         ({T.sql_my("d.maxlat - (CAST(k.a AS BIGINT) // d.w + 0.5) * d.resy")}
          - d.gt3) / (-d.gsd) AS fy
  FROM dst d, LATERAL (
    SELECT unnest(generate_series(0, d.w * d.h - 1)) AS a) k
),
bavg AS (
  SELECT p.i, p.flat, p.fx, p.fy, p.w, p.h,
         AVG(((cb.x0 + bx.a) + (rb.y0 + by.a) * p.w) % 256) AS avgv
  FROM px2 p
  JOIN colbox cb ON cb.i = p.i AND cb.c = p.c
  JOIN rowbox rb ON rb.i = p.i AND rb.r = p.r,
  LATERAL (SELECT unnest(generate_series(0, cb.x1 - cb.x0 - 1)) AS a) bx,
  LATERAL (SELECT unnest(generate_series(0, rb.y1 - rb.y0 - 1)) AS a) by
  GROUP BY p.i, p.flat, p.fx, p.fy, p.w, p.h
),
vo AS (
  SELECT i, flat,
    CASE WHEN fx >= 0 AND fx <= w AND fy >= 0 AND fy <= h
         THEN CAST(floor(avgv + 0.5) AS BIGINT) ELSE 0 END AS v
  FROM bavg
)
SELECT printf('img%08d', i) AS image_id,
       CAST(SUM(v % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1
FROM vo
GROUP BY i
"""


# GCP-warp value oracle (round-5 VERDICT #4): AFFINE GCP grids make both
# the thin-plate-spline solve (RBF weights = 0 — the affine polynomial term
# interpolates exactly, Bookstein side conditions force w = 0) and the
# order-2 least-squares fit (full-rank design, exact fit -> quadratic
# coefficients = 0) degenerate to the affine map BY CONSTRUCTION, so the
# whole warp chain — corner bbox, dst grid, inverse map, nearest sample,
# checksum — is closed-form.  X = 1.03x + 0.07y + 3.5, Y = -0.04x + 0.97y
# + 2.25; inverse via the exact 2x2 adjugate (det = 1.03*0.97 + 0.07*0.04).
# Nearest-int boundaries keep >= 1/(2*max(w,h)) margin vs the ~1e-9 solver
# noise (verified empirically at both SFs).
_WARP_IDX_META = """
WITH idx AS (
  SELECT CAST(a AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(0, 59)) AS a)
  WHERE a % 3 = 0
),
meta AS (
  SELECT i,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 257 ELSE 512 END AS w,
    CASE i % 5 WHEN 0 THEN 20 WHEN 1 THEN 64 WHEN 2 THEN 256
               WHEN 3 THEN 300 ELSE 512 END AS h
  FROM idx
)"""

_WARP_GCP_AFFINE_SQL = _WARP_IDX_META + f""",
aff AS (
  SELECT i, w, h,
    3.5 AS x0,
    1.03 * (w - 1) + 0.07 * (h - 1) + 3.5 AS x1,
    -0.04 * (w - 1) + 2.25 AS y0,
    0.97 * (h - 1) + 2.25 AS y1
  FROM meta
),
px AS (
  SELECT a.i, a.w, a.h, CAST(k.a AS BIGINT) AS flat,
    a.x0 + (CAST(k.a AS BIGINT) % a.w + 0.5) * (a.x1 - a.x0) / a.w AS gx,
    a.y0 + (CAST(k.a AS BIGINT) // a.w + 0.5) * (a.y1 - a.y0) / a.h AS gy
  FROM aff a, LATERAL (
    SELECT unnest(generate_series(0, a.w * a.h - 1)) AS a) k
),
inv AS (
  SELECT i, w, h, flat,
    CAST(floor((0.97 * (gx - 3.5) - 0.07 * (gy - 2.25))
               / (1.03 * 0.97 + 0.07 * 0.04) + 0.5) AS BIGINT) AS ix,
    CAST(floor((0.04 * (gx - 3.5) + 1.03 * (gy - 2.25))
               / (1.03 * 0.97 + 0.07 * 0.04) + 0.5) AS BIGINT) AS iy
  FROM px
),
vo AS (
  SELECT i, flat,
    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h THEN 1 ELSE 0
    END AS valid,
    CASE WHEN ix >= 0 AND ix < w AND iy >= 0 AND iy < h
         THEN (ix + iy * w) % 256 ELSE 0 END AS v
  FROM inv
)
SELECT printf('img%08d', i) AS image_id,
       CAST(SUM(v % ({_CS_PRIME.format(i='flat')})) % 65536 AS BIGINT) AS cs1,
       CAST(SUM(valid) AS BIGINT) AS n_valid
FROM vo
GROUP BY i
"""

# RPC-warp value oracle: a bend-free synthetic RPC00B block encodes the
# pure linear pushbroom model line = -P, samp = L (normalized), so the
# iterative inverse over the corners and the forward grid map reduce to
# ix = floor((w-1)(c+0.5)/w + 0.5), iy = floor((h-1)(r+0.5)/h + 0.5) —
# every destination center lands in-bounds (n_valid = w*h) and samples the
# fixture gradient.  Boundary margin >= 1/(2w) (no half-integer hits for
# any cycle size — (w-1)(2c+1) and w(2k-1) have opposite parities).
_WARP_RPC_LINEAR_SQL = _WARP_IDX_META + f""",
px AS (
  SELECT m.i, m.w, m.h, CAST(k.a AS BIGINT) AS flat,
    CAST(floor((m.w - 1) * (CAST(k.a AS BIGINT) % m.w + 0.5) / m.w + 0.5)
         AS BIGINT) AS ix,
    CAST(floor((m.h - 1) * (CAST(k.a AS BIGINT) // m.w + 0.5) / m.h + 0.5)
         AS BIGINT) AS iy
  FROM meta m, LATERAL (
    SELECT unnest(generate_series(0, m.w * m.h - 1)) AS a) k
)
SELECT printf('img%08d', i) AS image_id,
       CAST(SUM(((ix + iy * w) % 256) % ({_CS_PRIME.format(i='flat')}))
            % 65536 AS BIGINT) AS cs1,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM px
GROUP BY i
"""


_WARP_MASK_MERGED_SQL = f"""
SELECT 'nodata' AS mode, image_id, cs1 FROM ({_WARP_ND_SQL.strip()})
UNION ALL
SELECT 'cutline' AS mode, image_id, cs1 FROM ({_WARP_CUT_SQL.strip()})
UNION ALL
SELECT 'blend' AS mode, image_id, cs1 FROM ({_WARP_BLEND_SQL.strip()})
UNION ALL
SELECT 'boxavg' AS mode, image_id, cs1 FROM ({_WARP_BOXAVG_SQL.strip()})
UNION ALL
SELECT 'tps' AS mode, image_id, cs1 FROM ({_WARP_GCP_AFFINE_SQL.strip()})
UNION ALL
SELECT 'tps_nvalid' AS mode, image_id, n_valid AS cs1
FROM ({_WARP_GCP_AFFINE_SQL.strip()})
UNION ALL
SELECT 'poly2' AS mode, image_id, cs1 FROM ({_WARP_GCP_AFFINE_SQL.strip()})
UNION ALL
SELECT 'rpc' AS mode, image_id, cs1 FROM ({_WARP_RPC_LINEAR_SQL.strip()})
UNION ALL
SELECT 'rpc_nvalid' AS mode, image_id, n_valid AS cs1
FROM ({_WARP_RPC_LINEAR_SQL.strip()})
"""


@q("warp_mask_checksum", _WARP_MASK_MERGED_SQL)
def warp_mask_checksum_q(spark, sf_dir):
    """gdalwarp masking + box-stat + GCP/RPC transformer semantics in one
    gate (alg/gdalwarpkernel.cpp:614 + apps/gdalwarp_lib.cpp:5236 +
    GWKAverageOrMode gdalwarpkernel.cpp:7841 + alg/thinplatespline.cpp +
    alg/gdal_crs.cpp + alg/gdal_rpc.cpp): the -srcnodata collar chain,
    the -cutline diamond chain, the -r average corner-box-snap chain,
    plus the round-5 degenerate-exact transformer modes — affine GCPs
    through the real TPS solve and the real order-2 LS fit (both must
    reproduce the closed-form affine warp), and a bend-free RPC00B block
    through the real Newton inverse (must reproduce the closed-form
    linear grid).  n_valid for the GCP/RPC runs is graded as its own
    mode row."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType

    from .fixtures.images import images_df
    from .operators.rasterops import warp_gcp, warp_rpc, warp_to_wgs84
    from .oracle.rpc import rpc_pack, synthetic_rpc

    nd = warp_nodata_checksum_q(spark, sf_dir).select(
        F.lit("nodata").alias("mode"), "image_id", "cs1")
    cut = warp_cutline_checksum_q(spark, sf_dir).select(
        F.lit("cutline").alias("mode"), "image_id", "cs1")
    blend = warp_to_wgs84(_diamond_cutline_imgs(spark, sf_dir), "nearest",
                          dst_nodata=201, cutline_col="cutline_wkb",
                          blend_dist=2.7).select(
        F.lit("blend").alias("mode"), "image_id", "cs1")
    imgs = images_df(spark, min(_images_n(sf_dir), 60)).where(
        F.col("fmt") == "png")
    box = warp_to_wgs84(imgs, "average").select(
        F.lit("boxavg").alias("mode"), "image_id", "cs1")

    def _affine_grid_col(which):
        # 4x4 pixel grid mapped by X = 1.03x + 0.07y + 3.5,
        # Y = -0.04x + 0.97y + 2.25 (matches _WARP_GCP_AFFINE_SQL)
        @F.pandas_udf(ArrayType(DoubleType()))
        def col(w: pd.Series, h: pd.Series) -> pd.Series:
            out = []
            for ww, hh in zip(w, h):
                xs = np.linspace(0, float(ww) - 1, 4)
                ys = np.linspace(0, float(hh) - 1, 4)
                gx, gy = np.meshgrid(xs, ys)
                x, y = gx.ravel(), gy.ravel()
                X = 1.03 * x + 0.07 * y + 3.5
                Y = -0.04 * x + 0.97 * y + 2.25
                out.append({"px": x, "py": y, "x": X, "y": Y}[which].tolist())
            return pd.Series(out)
        return col(F.col("w"), F.col("h"))

    gimgs = imgs
    for name, which in (("gcp_px", "px"), ("gcp_py", "py"),
                        ("gcp_x", "x"), ("gcp_y", "y")):
        gimgs = gimgs.withColumn(name, _affine_grid_col(which))
    tps = warp_gcp(gimgs, method="tps")
    poly = warp_gcp(gimgs, method="poly", order=2)

    @F.pandas_udf(ArrayType(DoubleType()))
    def rpc_col(w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series([rpc_pack(synthetic_rpc(int(ww), int(hh), bend=0.0))
                          for ww, hh in zip(w, h)])

    rpc = warp_rpc(imgs.withColumn("rpc", rpc_col(F.col("w"), F.col("h"))))

    parts = [
        nd, cut, blend, box,
        tps.select(F.lit("tps").alias("mode"), "image_id",
                   F.col("cs").alias("cs1")),
        tps.select(F.lit("tps_nvalid").alias("mode"), "image_id",
                   F.col("n_valid").alias("cs1")),
        poly.select(F.lit("poly2").alias("mode"), "image_id",
                    F.col("cs").alias("cs1")),
        rpc.select(F.lit("rpc").alias("mode"), "image_id",
                   F.col("cs").alias("cs1")),
        rpc.select(F.lit("rpc_nvalid").alias("mode"), "image_id",
                   F.col("n_valid").alias("cs1")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PIP_MERGED_SQL = f"""
SELECT 'rings' AS mode, pid, poly_id FROM ({_PIP_JOIN_SQL.strip()})
UNION ALL
SELECT 'holes' AS mode, pid, -1 AS poly_id FROM ({_PIP_HOLES_SQL.strip()})
"""


@q("pip_join", _PIP_MERGED_SQL)
def pip_join_q(spark, sf_dir):
    """Point-in-polygon ray cast in one gate (ogrlinearring.cpp:452-517):
    points x simple polygons via covering-cell candidates, and the
    with-holes donut (per-ring even-odd XOR) through the ST_Within SQL
    surface."""
    rings = pip_polygon_join(spark, sf_dir).select(
        F.lit("rings").alias("mode"), "pid", "poly_id")
    holes = pip_holes_join(spark, sf_dir).select(
        F.lit("holes").alias("mode"), "pid",
        F.lit(-1).cast("long").alias("poly_id"))
    return rings.unionByName(holes)
