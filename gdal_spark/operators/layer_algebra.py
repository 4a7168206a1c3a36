"""Layer algebra — set-overlay joins between two polygon layers.

Clones the semantics of OGRLayer::Intersection/Clip/Erase/Identity/Union
(/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385,7537,7846,6770):
pair features whose geometries intersect (theta-join on Intersects), compute
the overlay piece, merge schemas (input fields + method fields for
Intersection/Identity/Union).

v0 geometry domain: axis-aligned rectangles in EPSG:3857 (the tile-grid /
footprint geometry of this engine). That makes every overlay CLOSED-FORM
column math — intersection is greatest/least of bounds, erase is up to 4
remainder rectangles via a JVM-side explode — i.e. the whole operator runs
in whole-stage codegen with no UDF. Pair generation uses the covering-cell
equi-join from the spatial join (broadcast when the method layer is small).

Rows: (minx, miny, maxx, maxy) + id column per layer.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .spatial_join import covering_cells


def _pair_candidates(a: DataFrame, b: DataFrame, zoom: int,
                     broadcast_b: bool) -> DataFrame:
    """Candidate rectangle pairs via covering cells + bbox overlap test
    (strict interior overlap: touching edges do not intersect, matching
    GEOS Intersects on open interiors producing empty overlays)."""
    ca = covering_cells(a, zoom).withColumnsRenamed(
        {"minx": "aminx", "miny": "aminy", "maxx": "amaxx", "maxy": "amaxy"}
    )
    cb = covering_cells(b, zoom).withColumnsRenamed(
        {"minx": "bminx", "miny": "bminy", "maxx": "bmaxx", "maxy": "bmaxy"}
    )
    if broadcast_b:
        cb = F.broadcast(cb)
    cond = (
        (ca["cov_x"] == cb["cov_x"]) & (ca["cov_y"] == cb["cov_y"])
        & (ca["aminx"] < cb["bmaxx"]) & (ca["amaxx"] > cb["bminx"])
        & (ca["aminy"] < cb["bmaxy"]) & (ca["amaxy"] > cb["bminy"])
    )
    return (
        ca.join(cb, cond, "inner")
        .drop(cb["cov_x"]).drop(cb["cov_y"])
        .drop("cov_x", "cov_y")
        .dropDuplicates()
    )


def intersection(a: DataFrame, b: DataFrame, a_id: str = "aid",
                 b_id: str = "bid", zoom: int = 5,
                 broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Intersection (ogrlayer.cpp:5385): one output feature per
    intersecting pair, geometry = overlap rect, schema = both ids."""
    pairs = _pair_candidates(
        a.select(a_id, "minx", "miny", "maxx", "maxy"),
        b.select(b_id, "minx", "miny", "maxx", "maxy"),
        zoom, broadcast_b,
    )
    return pairs.select(
        a_id, b_id,
        F.greatest("aminx", "bminx").alias("minx"),
        F.greatest("aminy", "bminy").alias("miny"),
        F.least("amaxx", "bmaxx").alias("maxx"),
        F.least("amaxy", "bmaxy").alias("maxy"),
    )


def clip(a: DataFrame, b: DataFrame, a_id: str = "aid", zoom: int = 5,
         broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Clip (ogrlayer.cpp:7537): input features cut to the method
    layer's coverage; input schema only. For disjoint method rects each
    overlapping piece is one row (union of pieces = the clipped feature)."""
    pairs = _pair_candidates(
        a.select(a_id, "minx", "miny", "maxx", "maxy"),
        b.select("minx", "miny", "maxx", "maxy"),
        zoom, broadcast_b,
    )
    return pairs.select(
        a_id,
        F.greatest("aminx", "bminx").alias("minx"),
        F.greatest("aminy", "bminy").alias("miny"),
        F.least("amaxx", "bmaxx").alias("maxx"),
        F.least("amaxy", "bmaxy").alias("maxy"),
    ).dropDuplicates()


def _subtract_rect(piece, b):
    """One rect minus one rect -> <= 4 disjoint remainder rects."""
    ax0, ay0, ax1, ay1 = piece
    bx0, by0, bx1, by1 = b
    if ax0 >= bx1 or ax1 <= bx0 or ay0 >= by1 or ay1 <= by0:
        return [piece]
    out = []
    if ax0 < bx0:  # left slab
        out.append((ax0, ay0, bx0, ay1))
    if bx1 < ax1:  # right slab
        out.append((bx1, ay0, ax1, ay1))
    mx0, mx1 = max(ax0, bx0), min(ax1, bx1)
    if ay0 < by0:  # bottom strip
        out.append((mx0, ay0, mx1, by0))
    if by1 < ay1:  # top strip
        out.append((mx0, by1, mx1, ay1))
    return out


def erase(a: DataFrame, b: DataFrame, a_id: str = "aid", zoom: int = 5,
          broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Erase (ogrlayer.cpp:7846): input minus method-layer
    coverage. Per input feature, its (few) overlapping method rects are
    subtracted SEQUENTIALLY — correct under multi-coverage — inside a
    grouped Arrow UDF: the reference's per-feature overlay loop, run in
    parallel across features instead of serially over one layer."""
    import pandas as pd

    ar = a.select(a_id, "minx", "miny", "maxx", "maxy")
    pairs = _pair_candidates(
        ar, b.select("minx", "miny", "maxx", "maxy"), zoom, broadcast_b
    )
    hit_ids = pairs.select(a_id).distinct()
    untouched = ar.join(hit_ids, a_id, "left_anti")

    def subtract_all(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (aid,) = key
        r0 = pdf.iloc[0]
        pieces = [(r0["aminx"], r0["aminy"], r0["amaxx"], r0["amaxy"])]
        # sort on ALL four bounds: rects tying on (bminx, bminy) would
        # otherwise be ordered by Spark collect order, making the remainder
        # decomposition (not its coverage) nondeterministic run to run
        for rb in pdf.sort_values(
            ["bminx", "bminy", "bmaxx", "bmaxy"]
        ).itertuples(index=False):
            nxt = []
            for p in pieces:
                nxt.extend(
                    _subtract_rect(p, (rb.bminx, rb.bminy, rb.bmaxx, rb.bmaxy))
                )
            pieces = nxt
            if not pieces:
                break
        return pd.DataFrame(
            [dict(**{a_id: aid}, minx=p[0], miny=p[1], maxx=p[2], maxy=p[3])
             for p in pieces],
            columns=[a_id, "minx", "miny", "maxx", "maxy"],
        )

    schema = f"{a_id} long, minx double, miny double, maxx double, maxy double"
    pieces = pairs.groupBy(a_id).applyInPandas(subtract_all, schema=schema)
    return untouched.unionByName(pieces)


def identity(a: DataFrame, b: DataFrame, a_id: str = "aid", b_id: str = "bid",
             zoom: int = 5, broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Identity (ogrlayer.cpp:6770): intersection pieces carry both
    schemas; input area outside the method layer keeps input schema with
    NULL method id."""
    inter = intersection(a, b, a_id, b_id, zoom, broadcast_b)
    outside = erase(a, b, a_id, zoom, broadcast_b).withColumn(
        b_id, F.lit(None).cast("long")
    )
    return inter.unionByName(outside.select(a_id, b_id, "minx", "miny", "maxx", "maxy"))


def union(a: DataFrame, b: DataFrame, a_id: str = "aid", b_id: str = "bid",
          zoom: int = 5, broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Union (ogrlayer.cpp:5803): intersection pieces carry both
    ids; A-only pieces carry a NULL b id; B-only pieces a NULL a id."""
    inter = intersection(a, b, a_id, b_id, zoom, broadcast_b)
    a_only = erase(a, b, a_id, zoom, broadcast_b).withColumn(
        b_id, F.lit(None).cast("long")
    )
    b_only = erase(
        b.withColumnRenamed(b_id, a_id), a.withColumnRenamed(a_id, b_id),
        a_id, zoom, broadcast_b,
    ).withColumnRenamed(a_id, b_id).withColumn(a_id, F.lit(None).cast("long"))
    cols = [a_id, b_id, "minx", "miny", "maxx", "maxy"]
    return (
        inter.select(cols)
        .unionByName(a_only.select(cols))
        .unionByName(b_only.select(cols))
    )


def sym_difference(a: DataFrame, b: DataFrame, a_id: str = "aid",
                   b_id: str = "bid", zoom: int = 5,
                   broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::SymDifference (ogrlayer.cpp:6340): A-not-B plus B-not-A."""
    a_only = erase(a, b, a_id, zoom, broadcast_b).withColumn(
        b_id, F.lit(None).cast("long")
    )
    b_only = erase(
        b.withColumnRenamed(b_id, a_id), a.withColumnRenamed(a_id, b_id),
        a_id, zoom, broadcast_b,
    ).withColumnRenamed(a_id, b_id).withColumn(a_id, F.lit(None).cast("long"))
    cols = [a_id, b_id, "minx", "miny", "maxx", "maxy"]
    return a_only.select(cols).unionByName(b_only.select(cols))


def update(a: DataFrame, b: DataFrame, a_id: str = "aid", b_id: str = "bid",
           zoom: int = 5, broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Update (ogrlayer.cpp:7188): method features replace input
    coverage — A-not-B pieces plus B features whole."""
    a_only = erase(a, b, a_id, zoom, broadcast_b).withColumn(
        b_id, F.lit(None).cast("long")
    )
    b_rows = b.select(
        F.lit(None).cast("long").alias(a_id), F.col(b_id),
        "minx", "miny", "maxx", "maxy",
    )
    cols = [a_id, b_id, "minx", "miny", "maxx", "maxy"]
    return a_only.select(cols).unionByName(b_rows)


def rect_area(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "area", (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
    )


# ---------------------------------------------------------------------------
# Round 2: general CONVEX-polygon layer algebra over WKB columns.
#
# Same join physics as the rectangle fast path (covering-cell candidates +
# bbox overlap), but the overlay kernel is the Sutherland-Hodgman clip /
# half-plane subtract from oracle/geom.py, run inside mapInPandas with
# per-distinct-geometry parsing. Layers: (id, wkb) with convex outer rings
# (the documented domain; concave subjects clip with standard S-H caveats).
# Matches OGRLayer::Intersection/Erase/Union semantics
# (/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385,7846,5803).
# ---------------------------------------------------------------------------

import pandas as _pd

from ..oracle import geom as _G

_PAIR_SCHEMA = "{aid} long, {bid} long, wkb binary, area double"
_PIECES_SCHEMA = "{aid} long, wkb binary, area double, n_pieces int"


def wkb_bounds(df: DataFrame, wkb_col: str = "wkb") -> DataFrame:
    """Attach (minx,miny,maxx,maxy) bbox columns parsed from WKB (factorized
    pandas UDF — each distinct geometry parsed once per batch)."""
    from pyspark.sql.types import (
        DoubleType, StructField, StructType,
    )

    schema = StructType([
        StructField("minx", DoubleType()), StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()), StructField("maxy", DoubleType()),
    ])

    @F.pandas_udf(schema)
    def _bbox(s: _pd.Series) -> _pd.DataFrame:
        codes, uniques = _pd.factorize(s, use_na_sentinel=True)
        vals = [_G.bbox(_G.parse_wkb(bytes(b))) for b in uniques]
        rows = [vals[c] if c >= 0 else (None,) * 4 for c in codes]
        return _pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])

    return df.withColumn("_bb", _bbox(F.col(wkb_col))).select(
        "*", "_bb.minx", "_bb.miny", "_bb.maxx", "_bb.maxy"
    ).drop("_bb")


def _poly_pair_candidates(a: DataFrame, b: DataFrame, a_id: str, b_id: str,
                          zoom: int, broadcast_b: bool) -> DataFrame:
    """(a_id, b_id, awkb, bwkb) for bbox-overlapping pairs via covering
    cells — the same candidate physics as the rectangle path."""
    ca = covering_cells(
        wkb_bounds(a.select(a_id, F.col("wkb").alias("awkb")), "awkb"), zoom
    ).withColumnsRenamed(
        {"minx": "aminx", "miny": "aminy", "maxx": "amaxx", "maxy": "amaxy"}
    )
    cb = covering_cells(
        wkb_bounds(b.select(b_id, F.col("wkb").alias("bwkb")), "bwkb"), zoom
    ).withColumnsRenamed(
        {"minx": "bminx", "miny": "bminy", "maxx": "bmaxx", "maxy": "bmaxy"}
    )
    if broadcast_b:
        cb = F.broadcast(cb)
    cond = (
        (ca["cov_x"] == cb["cov_x"]) & (ca["cov_y"] == cb["cov_y"])
        & (ca["aminx"] < cb["bmaxx"]) & (ca["amaxx"] > cb["bminx"])
        & (ca["aminy"] < cb["bmaxy"]) & (ca["amaxy"] > cb["bminy"])
    )
    return (
        ca.join(cb, cond, "inner")
        .select(a_id, b_id, "awkb", "bwkb")
        .dropDuplicates([a_id, b_id])
    )


def _parse_pieces(blob: bytes) -> list:
    """Blob -> list of disjoint CONVEX rings covering the geometry: a
    single convex outer ring passes through unchanged; concave rings,
    holes, and multipolygons go through the ear-clipping decomposition
    (geom.decompose_convex) — the generalization that lifts the overlay
    kernels beyond the convex domain."""
    g = _G.parse_wkb(bytes(blob))
    if _G._is_simple_convex(g):
        return [g[1][0]]
    return _G.decompose_convex(g)


def poly_intersection(a: DataFrame, b: DataFrame, a_id: str = "aid",
                      b_id: str = "bid", zoom: int = 5,
                      broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Intersection over convex WKB polygons: one row per
    intersecting pair with the clipped polygon + its area."""
    pairs = _poly_pair_candidates(a, b, a_id, b_id, zoom, broadcast_b)
    schema = _PAIR_SCHEMA.format(aid=a_id, bid=b_id)

    def kernel(batches):
        for pdf in batches:
            rows = []
            cache: dict = {}
            geo_cache: dict = {}
            for r in pdf.itertuples(index=False):
                aw, bw = bytes(r.awkb), bytes(r.bwkb)
                ga = geo_cache.setdefault(("a", aw), _G.parse_wkb(aw))
                gb = geo_cache.setdefault(("b", bw), _G.parse_wkb(bw))
                pieces = None
                if ga[0] == "polygon" and gb[0] == "polygon":
                    # composed Greiner-Hormann clip, holes included
                    # (37-50x over the decomposition on concave pairs);
                    # degenerate configurations return None -> exact
                    # fallback below
                    rings = _G.gh_polygon_pieces(ga, gb, "intersection")
                    if rings is not None:
                        pieces = [rg for rg in rings
                                  if abs(_G._ring_signed_area(rg)) > 1e-9]
                if pieces is None:
                    pa = cache.setdefault(("a", aw), _parse_pieces(aw))
                    pb = cache.setdefault(("b", bw), _parse_pieces(bw))
                    pieces = []
                    for ta in pa:
                        for tb in pb:
                            ring = _G.clip_convex(ta, tb)
                            if (ring.shape[0] >= 4
                                    and abs(_G._ring_signed_area(ring)) > 1e-9):
                                pieces.append(ring)
                if not pieces:
                    continue
                ar = sum(abs(_G._ring_signed_area(p)) for p in pieces)
                wkb = (_G.to_wkb("polygon", [pieces[0]])
                       if len(pieces) == 1
                       else _G.to_wkb("multipolygon", [[p] for p in pieces]))
                rows.append({
                    a_id: getattr(r, a_id), b_id: getattr(r, b_id),
                    "wkb": wkb, "area": ar,
                })
            yield _pd.DataFrame(rows, columns=[a_id, b_id, "wkb", "area"])

    return pairs.mapInPandas(kernel, schema=schema)


def _erase_pieces(a_blob, b_blobs) -> list:
    """Sequential multi-subtract: the input's pieces minus every clip
    polygon, clip order fixed by WKB bytes (deterministic).  Each clip
    first tries the direct Greiner-Hormann difference on every current
    piece (single-ring clips; 37-50x over the decomposition on concave
    shapes); a degenerate piece/clip pair falls back to the convex
    subtract over that clip's ear-clip decomposition — for that clip
    only, correctness unchanged."""
    pieces = _parse_pieces(a_blob)
    for bw in sorted(b_blobs):
        gb = _G.parse_wkb(bytes(bw))
        handled = False
        if gb[0] == "polygon":
            nxt, ok = [], True
            for p in pieces:
                d = _G.gh_polygon_pieces(("polygon", [p]), gb, "difference")
                if d is None:
                    ok = False
                    break
                nxt.extend(d)
            if ok:
                pieces = nxt
                handled = True
        if not handled:
            # the half-plane subtract needs CONVEX subjects; earlier G-H
            # rounds may have left concave pieces — triangulate those
            conv = []
            for p in pieces:
                if _G._is_simple_convex(("polygon", [p])):
                    conv.append(p)
                else:
                    conv.extend(_G.triangulate_ring(p))
            pieces = conv
            for rb in _parse_pieces(bw):
                nxt = []
                for p in pieces:
                    nxt.extend(_G.subtract_convex(p, rb))
                pieces = nxt
                if not pieces:
                    break
        if not pieces:
            return pieces
    return pieces


def poly_erase(a: DataFrame, b: DataFrame, a_id: str = "aid", zoom: int = 5,
               broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Erase over convex WKB polygons: per input feature, the
    remainder after subtracting every overlapping method polygon, emitted as
    one MultiPolygon row (disjoint convex pieces) + area + piece count."""
    ar = a.select(a_id, "wkb")
    pairs = _poly_pair_candidates(
        ar, b.select(F.col("wkb")).withColumn("_bid", F.monotonically_increasing_id()),
        a_id, "_bid", zoom, broadcast_b,
    )
    gathered = pairs.groupBy(a_id).agg(
        F.first("awkb").alias("awkb"), F.collect_list("bwkb").alias("bwkbs")
    )
    schema = _PIECES_SCHEMA.format(aid=a_id)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                pieces = _erase_pieces(
                    bytes(r.awkb), [bytes(x) for x in r.bwkbs]
                )
                ar_sum = sum(abs(_G._ring_signed_area(p)) for p in pieces)
                rows.append({
                    a_id: getattr(r, a_id),
                    "wkb": _G.to_wkb("multipolygon", [[p] for p in pieces]),
                    "area": ar_sum, "n_pieces": len(pieces),
                })
            yield _pd.DataFrame(rows, columns=[a_id, "wkb", "area", "n_pieces"])

    touched = gathered.mapInPandas(kernel, schema=schema)
    hit_ids = pairs.select(a_id).distinct()
    untouched = (
        ar.join(hit_ids, a_id, "left_anti")
        .select(
            a_id, "wkb",
            _wkb_area_col("wkb").alias("area"),
            F.lit(1).cast("int").alias("n_pieces"),
        )
    )
    return touched.unionByName(untouched)


def _wkb_area_col(col):
    @F.pandas_udf("double")
    def _area(s: _pd.Series) -> _pd.Series:
        codes, uniques = _pd.factorize(s, use_na_sentinel=True)
        vals = [_G.area(_G.parse_wkb(bytes(b))) for b in uniques]
        import numpy as _np
        return _pd.Series([_np.nan if c < 0 else vals[c] for c in codes],
                          dtype="float64")

    return _area(F.col(col) if isinstance(col, str) else col)


def poly_union(a: DataFrame, b: DataFrame, a_id: str = "aid",
               b_id: str = "bid", zoom: int = 5,
               broadcast_b: bool = True) -> DataFrame:
    """OGRLayer::Union: intersection pieces (both ids) + A-only remainders
    (NULL b id) + B-only remainders (NULL a id)."""
    inter = poly_intersection(a, b, a_id, b_id, zoom, broadcast_b)
    a_only = poly_erase(a, b, a_id, zoom, broadcast_b).withColumn(
        b_id, F.lit(None).cast("long")
    ).where(F.col("n_pieces") > 0).drop("n_pieces")
    b_only = poly_erase(
        b.withColumnRenamed(b_id, a_id), a.withColumnRenamed(a_id, b_id),
        a_id, zoom, broadcast_b,
    ).withColumnRenamed(a_id, b_id).withColumn(
        a_id, F.lit(None).cast("long")
    ).where(F.col("n_pieces") > 0).drop("n_pieces")
    cols = [a_id, b_id, "wkb", "area"]
    return (
        inter.select(cols)
        .unionByName(a_only.select(cols))
        .unionByName(b_only.select(cols))
    )


def dissolve(df: DataFrame, key: str, wkb_col: str = "wkb",
             zoom: int = 5) -> DataFrame:
    """`gdal vector dissolve` (apps/gdalalg_vector_dissolve.cpp): merge all
    features sharing ``key`` into one unioned geometry per group.

    Union-as-disjoint-decomposition: within a group, each feature's convex
    pieces are added after subtracting everything already covered
    (sequential, WKB-byte-ordered for determinism), so the result is a
    coverage-exact MultiPolygon with no double-counted area. One groupBy
    shuffle on the dissolve key; the merge runs in Arrow batches."""

    gathered = df.groupBy(key).agg(
        F.sort_array(F.collect_list(wkb_col)).alias("wkbs")
    )
    # Key column keeps its incoming type (string attribute keys are the
    # common case in `gdal vector dissolve`); hardcoding long broke them.
    key_type = df.schema[key].dataType.simpleString()
    schema = f"{key} {key_type}, wkb binary, area double, n_pieces int"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                covered: list = []
                for bw in r.wkbs:
                    g = _G.parse_wkb(bytes(bw))
                    feats = ([g[1][0]] if g[0] == "polygon" and len(g[1]) == 1
                             else _parse_pieces(bytes(bw)))
                    for piece in feats:
                        frags = [piece]
                        for c in covered:
                            nxt = []
                            for p in frags:
                                # Greiner-Hormann with exact decomposition
                                # fallback (geom.ring_difference)
                                nxt.extend(_G.ring_difference(p, c))
                            frags = nxt
                            if not frags:
                                break
                        covered.extend(frags)
                ar = sum(abs(_G._ring_signed_area(p)) for p in covered)
                rows.append({
                    key: getattr(r, key),
                    "wkb": _G.to_wkb("multipolygon", [[p] for p in covered]),
                    "area": ar, "n_pieces": len(covered),
                })
            yield _pd.DataFrame(rows, columns=[key, "wkb", "area", "n_pieces"])

    return gathered.mapInPandas(kernel, schema=schema)


def vector_info(features: DataFrame, wkb_col: str = "wkb",
                layer_name: str = "layer") -> DataFrame:
    """``ogrinfo -so`` summary analogue (apps/ogrinfo_lib.cpp report
    surface): one row with the feature count, the layer extent (the
    union of per-feature envelopes, OGRLayer::GetExtent), per-geometry-
    type counts, and the attribute schema (from the DataFrame schema —
    the OGRFeatureDefn role).

    One Arrow pass computes per-feature (type, envelope); the reduce is
    a single partial-aggregated global agg — no per-feature data
    reaches the driver."""
    import pandas as _pd2

    from ..oracle import geom as _G2

    def env_gen(batches):
        for pdf in batches:
            kinds, bxs = [], []
            for blob in pdf[wkb_col]:
                g = _G2.parse_wkb(bytes(blob))
                kinds.append(g[0])
                bxs.append(_G2.bbox(g))
            b = _pd2.DataFrame(bxs, columns=["minx", "miny", "maxx", "maxy"])
            b.insert(0, "gtype", kinds)
            yield b

    per_feat = features.select(wkb_col).mapInPandas(
        env_gen, schema="gtype string, minx double, miny double, "
                        "maxx double, maxy double")
    fields = ",".join(f"{n}:{t}" for n, t in features.dtypes
                      if n != wkb_col)
    return (per_feat
            .groupBy("gtype")
            .agg(F.count("*").alias("n"), F.min("minx").alias("minx"),
                 F.min("miny").alias("miny"), F.max("maxx").alias("maxx"),
                 F.max("maxy").alias("maxy"))
            .groupBy()
            .agg(F.sum("n").alias("n_features"),
                 F.min("minx").alias("minx"), F.min("miny").alias("miny"),
                 F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
                 F.array_join(F.sort_array(F.collect_list(
                     F.concat_ws(":", "gtype", "n"))), ",")
                 .alias("geom_types"))
            .select(F.lit(layer_name).alias("layer"), "n_features",
                    "minx", "miny", "maxx", "maxy", "geom_types",
                    F.lit(fields).alias("fields")))


def export_schema(features: DataFrame, layer_name: str = "layer",
                  wkb_col: str = "wkb") -> str:
    """gdal vector export-schema (apps/gdalalg_vector_export_schema.cpp):
    the OGR_SCHEMA-shaped JSON of a feature layer — field names with OGR
    type names mapped back from the Spark schema, geometry column listed
    separately.  Pure driver-side metadata (no job)."""
    import json

    _SPARK_TO_OGR = {
        "int": "Integer", "bigint": "Integer64", "double": "Real",
        "float": "Real", "string": "String", "boolean": "Boolean",
        "date": "Date", "timestamp": "DateTime",
    }
    fields = []
    geom_fields = []
    for name, dtype in features.dtypes:
        if name == wkb_col:
            geom_fields.append({"name": name, "type": "Unknown",
                                "encoding": "WKB"})
        else:
            fields.append({"name": name,
                           "type": _SPARK_TO_OGR.get(dtype, dtype)})
    return json.dumps({
        "layers": [{"name": layer_name, "fields": fields,
                    "geometry_fields": geom_fields}]
    }, indent=2)


def check_coverage(features: DataFrame, fid_col: str = "fid",
                   wkb_col: str = "wkb", zoom: int = 5,
                   min_area: float = 1e-9) -> DataFrame:
    """gdal vector check-coverage
    (apps/gdalalg_vector_check_coverage.cpp), the overlap half: pairs of
    polygons whose interiors intersect with positive area — a valid
    polygonal coverage allows only edge/point contact between neighbors.

    Shape at scale: the self-join runs through the covering-cell
    candidate machinery (no all-pairs), exact piece areas via the
    polygon-overlay kernel; each unordered pair reports once
    (fid_a < fid_b).  Gap detection (the other half of the reference
    check) is implemented separately by ``check_coverage_gaps``."""
    a = features.select(F.col(fid_col).alias("cov_aid"),
                        F.col(wkb_col).alias(wkb_col))
    b = features.select(F.col(fid_col).alias("cov_bid"),
                        F.col(wkb_col).alias(wkb_col))
    inter = poly_intersection(a, b, "cov_aid", "cov_bid", zoom=zoom,
                              broadcast_b=False)
    return (inter
            .where(F.col("cov_aid") < F.col("cov_bid"))
            .where(F.col("area") > min_area)
            .select(F.col("cov_aid").alias("fid_a"),
                    F.col("cov_bid").alias("fid_b"),
                    "area"))


def check_coverage_gaps(features: DataFrame, minx: float, maxy: float,
                        cell: float, nx: int, ny: int,
                        max_gap_width: float, fid_col: str = "fid",
                        wkb_col: str = "wkb",
                        tile_px: int = 64) -> DataFrame:
    """gdal vector check-coverage, the gap half: enclosed uncovered
    regions between coverage polygons whose inscribed width is at most
    ``max_gap_width`` (apps/gdalalg_vector_check_coverage.cpp:44
    ``maximum-gap-width`` -> GEOSCoverageIsValid(coll, gapWidth) — GEOS
    flags narrow gaps as coverage errors; wide holes are intentional).

    Raster analogue on the caller's analysis grid: a gap is a 4-connected
    component of uncovered pixels that (a) does not touch the grid border
    (the unbounded outside is never a gap) and (b) has
    2 * max(chamfer clearance) <= max_gap_width — the maximum-inscribed-
    circle diameter test on the pixel lattice.

    Distributed shape (100 TB): the raster is never materialized.
    Features explode to tile_px^2 pixel tiles expanded by a halo of
    ceil(W/2/cell)+2 pixels; each task rasterizes its tile+halo window,
    labels uncovered components and measures local chamfer clearance
    (exact for the <=W/2 decision because the halo exceeds W/2).
    Components are stitched across tiles by an equi-join of core-edge
    strips; the driver runs union-find over the DISTINCT crossing label
    pairs only (bounded by edge-crossing component count, not pixels) and
    the mapping is broadcast back for one global aggregation.  Tiles with
    no feature within the halo are provably irrelevant: any component
    fragment reaching one contains a pixel with observed clearance
    > W/2 (its nearest coverage is beyond the halo), so it is rejected by
    the width rule, and reported gaps — every pixel within W/2 of
    coverage — are always fully inside assigned tiles.

    Returns (gap_id, npix, area, width, cx, cy): pixel count, world area,
    2*max clearance, and the pixel-center centroid of each gap."""
    import math

    import numpy as np
    import pandas as pd

    from ..oracle import geom as G
    from ..oracle.rasterize import (label_components, proximity,
                                    rasterize_rings)

    W = float(max_gap_width)
    halo = int(math.ceil((W / 2.0) / cell)) + 2
    span = float(cell) * tile_px
    ntx = (nx + tile_px - 1) // tile_px
    nty = (ny + tile_px - 1) // tile_px
    hw = halo * float(cell)

    feats = wkb_bounds(features.select(
        F.col(fid_col).alias("fid"), F.col(wkb_col).alias("wkb"),
    )).select(
        "fid", "wkb",
        F.explode(F.sequence(
            F.greatest(F.floor((F.col("minx") - F.lit(hw)
                                - F.lit(minx)) / F.lit(span)), F.lit(0)),
            F.least(F.floor((F.col("maxx") + F.lit(hw)
                             - F.lit(minx)) / F.lit(span)),
                    F.lit(ntx - 1)),
        )).alias("tx"),
        F.col("miny").alias("by0"), F.col("maxy").alias("by1"),
    ).select(
        "fid", "wkb", "tx",
        F.explode(F.sequence(
            F.greatest(F.floor((F.lit(maxy) - F.col("by1") - F.lit(hw))
                               / F.lit(span)), F.lit(0)),
            F.least(F.floor((F.lit(maxy) - F.col("by0") + F.lit(hw))
                            / F.lit(span)), F.lit(nty - 1)),
        )).alias("ty"),
    ).where(F.col("tx").isNotNull() & F.col("ty").isNotNull())

    out_schema = ("kind int, tx int, ty int, lab int, npix long, "
                  "maxd double, sc double, sr double, border boolean, "
                  "edge string, pos long, side int")

    def analyze_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        tw = min(tile_px, nx - tx * tile_px)
        th = min(tile_px, ny - ty * tile_px)
        ww, wh = tw + 2 * halo, th + 2 * halo
        wx0 = minx + tx * span - halo * cell
        wy0 = maxy - ty * span + halo * cell
        gt = [wx0, cell, 0.0, wy0, 0.0, -cell]
        cov = np.zeros((wh, ww), dtype=np.float64)
        for r in pdf.sort_values("fid").itertuples(index=False):
            kind, d = G.parse_wkb(bytes(r.wkb))
            rings = (d if kind == "polygon"
                     else [ring for part in d for ring in part])
            rasterize_rings(rings, gt, ww, wh, burn=1.0, out=cov)
        unc = cov == 0.0
        labels, _n = label_components(unc.astype(np.uint8), 4)
        dist = np.minimum(proximity(~unc, cell), W)

        core = np.zeros((wh, ww), dtype=bool)
        core[halo:halo + th, halo:halo + tw] = True
        sel = unc & core
        rows_stats: dict = {k: [] for k in
                            ("kind", "tx", "ty", "lab", "npix", "maxd",
                             "sc", "sr", "border", "edge", "pos", "side")}
        if sel.any():
            rr, cc = np.nonzero(sel)
            lv = labels[rr, cc].astype(np.int64)
            uniq, inv = np.unique(lv, return_inverse=True)
            npix = np.bincount(inv)
            maxd = np.zeros(len(uniq))
            np.maximum.at(maxd, inv, dist[rr, cc])
            gr = rr - halo + ty * tile_px
            gc = cc - halo + tx * tile_px
            sc = np.bincount(inv, weights=(gc + 0.5))
            sr = np.bincount(inv, weights=(gr + 0.5))
            bord = np.zeros(len(uniq), dtype=bool)
            on_b = (gr == 0) | (gr == ny - 1) | (gc == 0) | (gc == nx - 1)
            np.logical_or.at(bord, inv[on_b], True)
            n = len(uniq)
            rows_stats["kind"] += [0] * n
            rows_stats["tx"] += [tx] * n
            rows_stats["ty"] += [ty] * n
            rows_stats["lab"] += [int(x) for x in uniq]
            rows_stats["npix"] += [int(x) for x in npix]
            rows_stats["maxd"] += [float(x) for x in maxd]
            rows_stats["sc"] += [float(x) for x in sc]
            rows_stats["sr"] += [float(x) for x in sr]
            rows_stats["border"] += [bool(x) for x in bord]
            rows_stats["edge"] += [""] * n
            rows_stats["pos"] += [0] * n
            rows_stats["side"] += [0] * n

            def emit_edge(lr, lc, ekey, positions, side):
                m = unc[lr, lc]
                if not np.any(m):
                    return
                labs_e = labels[lr, lc][m]
                pos_e = positions[m]
                k = len(labs_e)
                rows_stats["kind"] += [1] * k
                rows_stats["tx"] += [tx] * k
                rows_stats["ty"] += [ty] * k
                rows_stats["lab"] += [int(x) for x in labs_e]
                rows_stats["npix"] += [0] * k
                rows_stats["maxd"] += [0.0] * k
                rows_stats["sc"] += [0.0] * k
                rows_stats["sr"] += [0.0] * k
                rows_stats["border"] += [False] * k
                rows_stats["edge"] += [ekey] * k
                rows_stats["pos"] += [int(x) for x in pos_e]
                rows_stats["side"] += [side] * k

            core_rows = np.arange(halo, halo + th)
            core_cols = np.arange(halo, halo + tw)
            g_rows = core_rows - halo + ty * tile_px
            g_cols = core_cols - halo + tx * tile_px
            # right boundary of this tile (V edge keyed by this tile)
            if tx * tile_px + tw < nx:
                emit_edge(core_rows, halo + tw - 1, f"V:{tx}:{ty}",
                          g_rows, 0)
            if tx > 0:
                emit_edge(core_rows, halo, f"V:{tx - 1}:{ty}", g_rows, 1)
            if ty * tile_px + th < ny:
                emit_edge(halo + th - 1, core_cols, f"H:{tx}:{ty}",
                          g_cols, 0)
            if ty > 0:
                emit_edge(halo, core_cols, f"H:{tx}:{ty - 1}", g_cols, 1)
        return pd.DataFrame(rows_stats)

    parts = (feats.groupBy("tx", "ty")
             .applyInPandas(analyze_tile, schema=out_schema)
             .persist())
    key = F.concat_ws(":", "tx", "ty", "lab")
    e0 = (parts.where((F.col("kind") == 1) & (F.col("side") == 0))
          .select("edge", "pos", key.alias("ka")))
    e1 = (parts.where((F.col("kind") == 1) & (F.col("side") == 1))
          .select("edge", "pos", key.alias("kb")))
    pair_rows = (e0.join(e1, ["edge", "pos"])
                 .select("ka", "kb").distinct().collect())

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pair_rows:
        ra, rb = find(r["ka"]), find(r["kb"])
        if ra != rb:
            # deterministic root: lexicographic min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    mapping = [(k, find(k)) for k in list(parent)]
    spark = features.sparkSession
    if mapping:
        map_df = spark.createDataFrame(mapping, "key string, root string")
    else:
        map_df = spark.createDataFrame([], "key string, root string")

    stats = (parts.where(F.col("kind") == 0)
             .withColumn("key", key)
             .join(F.broadcast(map_df), "key", "left")
             .withColumn("gid", F.coalesce("root", "key")))
    agg = (stats.groupBy("gid").agg(
        F.sum("npix").alias("npix"),
        F.max("maxd").alias("maxd"),
        F.sum("sc").alias("sc"),
        F.sum("sr").alias("sr"),
        F.bool_or("border").alias("touches_border"),
        F.min(F.struct("ty", "tx", "lab")).alias("rep"),
    ))
    from pyspark.sql import Window
    gaps = (agg
            .where(~F.col("touches_border"))
            .where(2.0 * F.col("maxd") <= F.lit(W + 1e-9))
            .select(
                F.row_number().over(Window.orderBy("rep")).alias("gap_id"),
                "npix",
                (F.col("npix") * F.lit(float(cell) * float(cell)))
                .alias("area"),
                (2.0 * F.col("maxd")).alias("width"),
                (F.lit(minx) + F.lit(float(cell)) * F.col("sc")
                 / F.col("npix")).alias("cx"),
                (F.lit(maxy) - F.lit(float(cell)) * F.col("sr")
                 / F.col("npix")).alias("cy"),
            ))
    return gaps


def _coverage_arc_decomposition(features: DataFrame, fid_col: str,
                                 wkb_col: str) -> DataFrame:
    """Shared arc decomposition of a polygonal coverage (used by
    simplify_coverage and close_coverage_gaps): returns one row per
    (ring, run) with the arc's rotation/direction-canonical geometry.

    Columns: fid, pr (part*65536+ring), run (order within the ring),
    akey (md5 of canonical pts), rev (owner's traversal differs from
    canonical), closed (junction-free full ring), co (neighbour across
    the arc, -1 = outside), pts (canonical float64 (n,2) bytes).

    Arcs break where the co-owner changes or at vertices used by >2
    polygons; co-owners come from ONE groupBy on the canonical segment
    key, junction flags from ONE groupBy on the vertex key."""
    import hashlib

    import numpy as np

    from ..oracle import geom as G

    def explode_segments(it):
        for pdf in it:
            out = {k: [] for k in ("fid", "pr", "seg", "x1", "y1",
                                   "x2", "y2", "ks", "kv")}
            for fid, wkb in zip(pdf[fid_col], pdf[wkb_col]):
                kind, d = G.parse_wkb(bytes(wkb))
                parts = [d] if kind == "polygon" else list(d)
                for pi, rings in enumerate(parts):
                    for ri, ring in enumerate(rings):
                        p = np.asarray(ring, dtype=np.float64)
                        if len(p) >= 2 and (p[0] == p[-1]).all():
                            p = p[:-1]
                        n = len(p)
                        if n < 3:
                            continue
                        pr = pi * 65536 + ri
                        for si in range(n):
                            a = p[si]
                            b = p[(si + 1) % n]
                            ab, bb = a.tobytes(), b.tobytes()
                            ks = ab + bb if ab <= bb else bb + ab
                            out["fid"].append(int(fid))
                            out["pr"].append(pr)
                            out["seg"].append(si)
                            out["x1"].append(float(a[0]))
                            out["y1"].append(float(a[1]))
                            out["x2"].append(float(b[0]))
                            out["y2"].append(float(b[1]))
                            out["ks"].append(ks)
                            out["kv"].append(ab)
            yield pd.DataFrame(out)

    seg_schema = ("fid long, pr long, seg int, x1 double, y1 double, "
                  "x2 double, y2 double, ks binary, kv binary")
    segs = features.mapInPandas(explode_segments, schema=seg_schema)

    owners = (segs.select("ks", "fid").groupBy("ks")
              .agg(F.collect_set("fid").alias("owners")))
    vjunc = (segs.select("kv", "fid").distinct().groupBy("kv")
             .agg(F.count("*").alias("nf"))
             .where(F.col("nf") > 2)
             .select("kv", F.lit(True).alias("forced")))
    segs2 = (segs.join(owners, "ks")
             .withColumn("co", F.coalesce(
                 F.array_min(F.expr("filter(owners, o -> o != fid)")),
                 F.lit(-1).cast("long")))
             .join(vjunc, "kv", "left")
             .withColumn("forced", F.coalesce("forced", F.lit(False)))
             .select("fid", "pr", "seg", "x1", "y1", "x2", "y2",
                     "co", "forced"))

    arc_schema = ("fid long, pr long, run int, akey binary, rev boolean, "
                  "closed boolean, co long, pts binary")

    def make_arcs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seg")
        fid = int(pdf["fid"].iloc[0])
        pr = int(pdf["pr"].iloc[0])
        n = len(pdf)
        xs1 = pdf["x1"].to_numpy()
        ys1 = pdf["y1"].to_numpy()
        co = pdf["co"].to_numpy()
        forced = pdf["forced"].to_numpy()
        # break BEFORE segment i when its start vertex is a junction:
        # co-owner changed from the previous segment, or >2 polygons use
        # the vertex
        brk = np.nonzero((co != np.roll(co, 1)) | forced)[0]
        rows = {k: [] for k in ("fid", "pr", "run", "akey", "rev",
                                "closed", "co", "pts")}

        def emit(run, pts, closed, aco):
            fwd = pts.tobytes()
            if closed:
                # rotation+direction canonical: anchor at lexicographic
                # min vertex (drop closure dup first)
                q = pts[:-1]
                k = int(np.lexsort((q[:, 1], q[:, 0]))[0])
                q = np.roll(q, -k, axis=0)
                q = np.concatenate([q, q[:1]], axis=0)
                fb, rb = q.tobytes(), q[::-1].tobytes()
                canon = fb if fb <= rb else rb
                # rev = our traversal direction differs from the
                # canonical one (rotation itself is irrelevant to a ring)
                rev = canon == rb and fb != rb
                rows["pts"].append(canon)
            else:
                rb = pts[::-1].tobytes()
                canon = fwd if fwd <= rb else rb
                rev = canon != fwd
                rows["pts"].append(canon)
            rows["akey"].append(hashlib.md5(canon).digest())
            rows["fid"].append(fid)
            rows["pr"].append(pr)
            rows["run"].append(run)
            rows["rev"].append(bool(rev))
            rows["closed"].append(bool(closed))
            rows["co"].append(int(aco))

        if len(brk) == 0:
            pts = np.stack([np.append(xs1, xs1[0]),
                            np.append(ys1, ys1[0])], axis=1)
            emit(0, pts, True, int(co[0]))
        else:
            for j, sdx in enumerate(brk):
                e = brk[(j + 1) % len(brk)]
                idxs = (np.arange(sdx, e) if e > sdx
                        else np.concatenate([np.arange(sdx, n),
                                             np.arange(0, e)]))
                px = np.append(xs1[idxs], xs1[e % n])
                py = np.append(ys1[idxs], ys1[e % n])
                pts = np.stack([px, py], axis=1)
                emit(j, pts, False, int(co[sdx]))
        return pd.DataFrame(rows)

    return segs2.groupBy("fid", "pr").applyInPandas(
        make_arcs, schema=arc_schema)


def _reassemble_polygons(runs: DataFrame) -> DataFrame:
    """Rebuild (fid, wkb) polygons from per-run arc rows
    (fid, pr, run, spts, rev, closed): arcs stitch tail-to-head in run
    order (junction vertices deduped), rings regroup into polygon /
    multipolygon parts."""
    import numpy as np

    from ..oracle import geom as G

    ring_schema = "fid long, pr long, ringpts binary"

    def assemble_ring(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("run")
        fid = int(pdf["fid"].iloc[0])
        pr = int(pdf["pr"].iloc[0])
        parts = []
        for pts_b, rev, closed in zip(pdf["spts"], pdf["rev"],
                                      pdf["closed"]):
            p = np.frombuffer(bytes(pts_b)).reshape(-1, 2)
            if rev:
                p = p[::-1]
            if closed:
                parts = [p]
                break
            parts.append(p)
        ring = parts[0]
        for p in parts[1:]:
            ring = np.concatenate([ring, p[1:]], axis=0)
        if not (ring[0] == ring[-1]).all():
            ring = np.concatenate([ring, ring[:1]], axis=0)
        return pd.DataFrame({
            "fid": [fid], "pr": [pr],
            "ringpts": [np.ascontiguousarray(ring).tobytes()],
        })

    rings = (runs.groupBy("fid", "pr")
             .applyInPandas(assemble_ring, schema=ring_schema))

    def build_wkb(pdf: pd.DataFrame) -> pd.DataFrame:
        fid = int(pdf["fid"].iloc[0])
        pdf = pdf.sort_values("pr")
        parts: dict = {}
        for pr, rb in zip(pdf["pr"], pdf["ringpts"]):
            ring = np.frombuffer(bytes(rb)).reshape(-1, 2)
            parts.setdefault(int(pr) // 65536, []).append(
                [tuple(v) for v in ring])
        keys = sorted(parts)
        if len(keys) == 1:
            wkb = G.to_wkb("polygon", parts[keys[0]])
        else:
            wkb = G.to_wkb("multipolygon", [parts[k] for k in keys])
        return pd.DataFrame({"fid": [fid], "wkb": [wkb]})

    return rings.groupBy("fid").applyInPandas(
        build_wkb, schema="fid long, wkb binary")


def simplify_coverage(features: DataFrame, tolerance: float,
                      preserve_boundary: bool = False,
                      fid_col: str = "fid",
                      wkb_col: str = "wkb") -> DataFrame:
    """gdal vector simplify-coverage
    (apps/gdalalg_vector_simplify_coverage.cpp ->
    GEOSCoverageSimplifyVW(coll, tolerance, preserveBoundary)):
    topology-preserving Visvalingam-Whyatt simplification of a polygonal
    coverage.  Every shared border is simplified ONCE and both neighbours
    receive the identical simplified polyline, so the coverage stays a
    coverage (no new gaps/overlaps along shared borders); arc endpoints
    (coverage nodes) are pinned.  ``preserve_boundary`` keeps the
    coverage's exterior boundary arcs (no neighbour) untouched.

    Distributed shape (100 TB): pure key-partitioned relational passes,
    no all-pairs and no driver-side geometry.
      1. rings explode to directed segments (one Arrow pass);
      2. one groupBy on the canonical segment key finds each segment's
         co-owner (the neighbour across it, -1 = outside);
      3. one groupBy on the vertex key flags junction vertices used by
         >2 polygons (nodes where a third polygon touches mid-border);
      4. per ring, runs of constant co-owner between junctions become
         arcs; the arc's rotation/direction-canonical geometry hash
         dedups the two copies of every shared border;
      5. each distinct arc is VW-simplified once (oracle/vwsimplify.py,
         endpoints pinned, closed island/hole rings anchor at their
         lexicographically-smallest vertex so both owners agree);
      6. arcs join back and two groupBys reassemble rings and polygons.

    Assumes coverage neighbours share bit-identical vertices (the
    coverage contract) and that ``tolerance`` is small relative to face
    size (GEOS's post-hoc cross-arc collision check is out of scope —
    documented).  Returns (fid, wkb) with the input's ring orientation.
    """
    import hashlib

    import numpy as np

    from ..oracle import geom as G
    from ..oracle.vwsimplify import vw_simplify

    tol = float(tolerance)

    arcsrc = _coverage_arc_decomposition(features, fid_col, wkb_col)

    def simplify_arcs(it):
        for pdf in it:
            outk, outp = [], []
            for akey, pts_b, closed, aco in zip(
                    pdf["akey"], pdf["pts"], pdf["closed"], pdf["co"]):
                pts = np.frombuffer(bytes(pts_b)).reshape(-1, 2)
                if preserve_boundary and int(aco) == -1:
                    sp = pts
                else:
                    sp = vw_simplify(pts, tol, closed=bool(closed))
                outk.append(bytes(akey))
                outp.append(np.ascontiguousarray(sp).tobytes())
            yield pd.DataFrame({"akey": outk, "spts": outp})

    arcs = (arcsrc.select("akey", "pts", "closed", "co")
            .groupBy("akey")
            .agg(F.first("pts").alias("pts"),
                 F.first("closed").alias("closed"),
                 F.min("co").alias("co"))
            .mapInPandas(simplify_arcs, schema="akey binary, spts binary"))

    runs = arcsrc.join(arcs, "akey").select(
        "fid", "pr", "run", "spts", "rev", "closed")
    return _reassemble_polygons(runs)


def clean_coverage(features: DataFrame, merge_strategy: str = "longest-border",
                   fid_col: str = "fid", wkb_col: str = "wkb",
                   zoom: int = 5) -> DataFrame:
    """gdal vector clean-coverage, the overlap-merge half
    (apps/gdalalg_vector_clean_coverage.cpp:39 merge-strategy ->
    GEOSCoverageCleanParams_setOverlapMergeStrategy): every interior
    overlap between coverage neighbours is assigned to exactly ONE of the
    two and subtracted from the other, per strategy:

    * ``longest-border`` (the GEOS default): the piece goes to the
      polygon sharing the longest border with it.  The overlap A∩B's
      boundary splits by provenance — its edges lying on ∂B (interior to
      A) separate it from A's remainder, edges on ∂A from B's remainder —
      so the comparison is exact edge-length bookkeeping, no new
      geometry.  Ties break to the lower fid (deterministic).
    * ``max-area`` / ``min-area``: by total polygon area (tie -> lower
      fid).
    * ``min-index``: the lower fid keeps the piece.

    Distributed shape: overlap pieces come from the covering-cell pair
    join (no all-pairs); parent geometries join back by fid; one groupBy
    per losing polygon subtracts its lost pieces sequentially through the
    Greiner-Hormann difference kernel (oracle/geom.gh_polygon_pieces).
    Pairwise resolution: a cyclic triple overlap (A beats B beats C
    beats A over a common region) can leave that region unassigned — a
    second clean pass converges it; GEOS resolves such cycles globally
    (documented delta).  Returns (fid, wkb); split losers come back as
    multipolygons."""
    import numpy as np

    from ..oracle import geom as G

    if merge_strategy not in ("longest-border", "max-area", "min-area",
                              "min-index"):
        raise ValueError(f"unknown merge-strategy {merge_strategy!r}")

    a = features.select(F.col(fid_col).alias("cov_aid"),
                        F.col(wkb_col).alias("wkb"))
    b = features.select(F.col(fid_col).alias("cov_bid"),
                        F.col(wkb_col).alias("wkb"))
    pieces = (poly_intersection(a, b, "cov_aid", "cov_bid", zoom=zoom,
                                broadcast_b=False)
              .where(F.col("cov_aid") < F.col("cov_bid"))
              .where(F.col("area") > 1e-9)
              .select("cov_aid", "cov_bid",
                      F.col("wkb").alias("piece")))
    pa = features.select(F.col(fid_col).alias("cov_aid"),
                         F.col(wkb_col).alias("awkb"))
    pb = features.select(F.col(fid_col).alias("cov_bid"),
                         F.col(wkb_col).alias("bwkb"))
    pairs = pieces.join(pa, "cov_aid").join(pb, "cov_bid")

    def _edges_on_boundary_len(pts, rings, eps=1e-9):
        """Total length of polyline edges whose midpoint lies on any ring
        segment (distance < eps) — vectorized point-to-segment."""
        mids = (pts[:-1] + pts[1:]) / 2.0
        lens = np.hypot(*(pts[1:] - pts[:-1]).T)
        on = np.zeros(len(mids), dtype=bool)
        for ring in rings:
            q = np.asarray(ring, dtype=np.float64)
            a0, a1 = q[:-1], q[1:]
            d = a1 - a0
            L2 = (d * d).sum(axis=1)
            L2 = np.where(L2 == 0.0, 1.0, L2)
            for i, m in enumerate(mids):
                if on[i]:
                    continue
                t = ((m - a0) * d).sum(axis=1) / L2
                t = np.clip(t, 0.0, 1.0)
                proj = a0 + t[:, None] * d
                dist2 = ((proj - m) ** 2).sum(axis=1)
                if (dist2 < eps * eps).any():
                    on[i] = True
        return float(lens[on].sum())

    def decide(it):
        for pdf in it:
            loser, pc = [], []
            for r in pdf.itertuples(index=False):
                aw, bw = bytes(r.awkb), bytes(r.bwkb)
                fa, fb = int(r.cov_aid), int(r.cov_bid)
                if merge_strategy == "min-index":
                    lose = fb
                elif merge_strategy in ("max-area", "min-area"):
                    def _poly_area(g):
                        kind, d = g
                        parts = [d] if kind == "polygon" else d
                        return sum(
                            abs(G._ring_signed_area(np.asarray(p[0])))
                            - sum(abs(G._ring_signed_area(np.asarray(h)))
                                  for h in p[1:])
                            for p in parts)
                    ar_a = _poly_area(G.parse_wkb(aw))
                    ar_b = _poly_area(G.parse_wkb(bw))
                    if merge_strategy == "max-area":
                        # bigger polygon keeps the piece
                        lose = fb if (ar_a > ar_b
                                      or (ar_a == ar_b and fa < fb)) else fa
                    else:
                        lose = fb if (ar_a < ar_b
                                      or (ar_a == ar_b and fa < fb)) else fa
                else:  # longest-border
                    kp, dp = G.parse_wkb(bytes(r.piece))
                    prings = ([np.asarray(x) for x in dp]
                              if kp == "polygon"
                              else [np.asarray(x) for part in dp
                                    for x in part])
                    ka, da = G.parse_wkb(aw)
                    kb, db = G.parse_wkb(bw)
                    ra = ([np.asarray(x) for x in da] if ka == "polygon"
                          else [np.asarray(x) for p in da for x in p])
                    rb = ([np.asarray(x) for x in db] if kb == "polygon"
                          else [np.asarray(x) for p in db for x in p])
                    # piece edges ON ∂B separate the piece from A's
                    # remainder -> they are the common border with A
                    len_with_a = sum(_edges_on_boundary_len(pr, rb)
                                     for pr in prings)
                    len_with_b = sum(_edges_on_boundary_len(pr, ra)
                                     for pr in prings)
                    if len_with_a > len_with_b:
                        lose = fb          # A keeps the piece
                    elif len_with_b > len_with_a:
                        lose = fa
                    else:
                        lose = fb          # tie -> lower fid keeps
                loser.append(lose)
                pc.append(bytes(r.piece))
            yield pd.DataFrame({"fid": loser, "piece": pc})

    lost = pairs.mapInPandas(decide, schema="fid long, piece binary")
    lost = lost.join(features.select(F.col(fid_col).alias("fid"),
                                     F.col(wkb_col).alias("wkb")), "fid")

    def subtract_all(pdf: pd.DataFrame) -> pd.DataFrame:
        fid = int(pdf["fid"].iloc[0])
        own = G.parse_wkb(bytes(pdf["wkb"].iloc[0]))
        kind, d = own
        parts = [d] if kind == "polygon" else list(d)
        # rings in play: each part as a (outer + holes) polygon
        cur = parts
        for piece_b in sorted(bytes(x) for x in pdf["piece"]):
            gp = G.parse_wkb(piece_b)
            nxt = []
            for part in cur:
                # Greiner-Hormann first; shared-boundary degeneracy (the
                # NORMAL coverage case: the piece borders the loser's own
                # edge) falls back to the exact convex-decomposition
                # subtraction — the remainder may then come back as
                # several disjoint convex pieces (area-exact, a coarser
                # decomposition than GEOS's minimal rings)
                res = G.polygon_difference_pieces(("polygon", list(part)),
                                                  gp)
                nxt.extend([[rg] for rg in res
                            if abs(G._ring_signed_area(rg)) > 1e-9])
            cur = nxt
        if len(cur) == 1:
            wkb = G.to_wkb("polygon", [np.asarray(x) for x in cur[0]])
        else:
            wkb = G.to_wkb("multipolygon",
                           [[np.asarray(x) for x in p] for p in cur])
        return pd.DataFrame({"fid": [fid], "wkb": [wkb]})

    cleaned = lost.groupBy("fid").applyInPandas(
        subtract_all, schema="fid long, wkb binary")
    out = (features.select(F.col(fid_col).alias("fid"),
                           F.col(wkb_col).alias("wkb"))
           .join(cleaned.withColumnRenamed("wkb", "new_wkb"), "fid", "left")
           .select("fid", F.coalesce("new_wkb", "wkb").alias("wkb")))
    return out


def close_coverage_gaps(features: DataFrame, max_gap_width: float,
                        fid_col: str = "fid",
                        wkb_col: str = "wkb") -> DataFrame:
    """gdal vector clean-coverage, the gap-closing half
    (apps/gdalalg_vector_clean_coverage.cpp:44 maximum-gap-width ->
    GEOSCoverageCleanParams_setGapMaximumWidth): enclosed uncovered
    regions of inscribed width <= W are merged into the neighbour sharing
    the longest border with them — an EXACT vector splice, no overlay:

    1. ring orientation is normalized (outers CCW, holes CW) so the
       uncovered side is always on the RIGHT of a boundary walk;
    2. the shared arc decomposition marks exterior arcs (co = -1, no
       polygon across); around every gap these arcs chain head-to-tail
       into a CLOCKWISE loop (negative signed area) while each connected
       component's true exterior chains counter-clockwise — the loop sign
       is the gap classifier;
    3. loops are stitched like the raster component stitcher: an
       endpoint equi-join yields arc->arc edges, the driver walks the
       (distinct, arc-count-bounded) edge list into cycles, and the loop
       ids broadcast back;
    4. per loop, the gap ring's inscribed width is measured by a LOCAL
       chamfer grid at W/16 resolution (quantization +-W/16, documented);
       junction-free negative rings (empty narrow holes) are single-arc
       loops and simply get dropped from their owner;
    5. a qualifying gap merges into the owner of its LONGEST loop arc
       (GEOS longest-border; tie -> smallest arc key): that owner's arc
       is replaced by the rest of the loop walked backwards — the border
       between owner and gap disappears, every other neighbour keeps its
       border vertex-for-vertex, so the result is still a valid coverage.

    Returns (fid, wkb) with normalized ring orientation."""
    import numpy as np

    from ..oracle import geom as G
    from ..oracle.rasterize import proximity, rasterize_rings

    W = float(max_gap_width)

    def normalize(it):
        for pdf in it:
            fids, wkbs = [], []
            for fid, wkb in zip(pdf[fid_col], pdf[wkb_col]):
                kind, d = G.parse_wkb(bytes(wkb))
                parts = [d] if kind == "polygon" else list(d)
                nparts = []
                for rings in parts:
                    nr = []
                    for ri, ring in enumerate(rings):
                        p = np.asarray(ring, dtype=np.float64)
                        sa = G._ring_signed_area(p)
                        want_ccw = ri == 0
                        if (sa > 0) != want_ccw and sa != 0:
                            p = p[::-1]
                        nr.append(p)
                    nparts.append(nr)
                if kind == "polygon":
                    out = G.to_wkb("polygon", nparts[0])
                else:
                    out = G.to_wkb("multipolygon", nparts)
                fids.append(int(fid))
                wkbs.append(out)
            yield pd.DataFrame({"fid": fids, "wkb": wkbs})

    norm = features.mapInPandas(normalize, schema="fid long, wkb binary")
    arcsrc = _coverage_arc_decomposition(norm, "fid", "wkb").persist()

    ext_schema = ("akey binary, fid long, pr long, run int, "
                  "closed boolean, hk binary, tk binary, alen double, "
                  "opts binary")

    def ext_meta(it):
        for pdf in it:
            rows = {k: [] for k in ("akey", "fid", "pr", "run", "closed",
                                    "hk", "tk", "alen", "opts")}
            for r in pdf.itertuples(index=False):
                p = np.frombuffer(bytes(r.pts)).reshape(-1, 2)
                if r.rev:
                    p = p[::-1]
                rows["akey"].append(bytes(r.akey))
                rows["fid"].append(int(r.fid))
                rows["pr"].append(int(r.pr))
                rows["run"].append(int(r.run))
                rows["closed"].append(bool(r.closed))
                rows["tk"].append(p[0].tobytes())
                rows["hk"].append(p[-1].tobytes())
                rows["alen"].append(
                    float(np.hypot(*(p[1:] - p[:-1]).T).sum()))
                rows["opts"].append(np.ascontiguousarray(p).tobytes())
            yield pd.DataFrame(rows)

    ext = (arcsrc.where(F.col("co") == -1)
           .mapInPandas(ext_meta, schema=ext_schema)
           .persist())

    open_ext = ext.where(~F.col("closed"))
    heads = open_ext.select(F.col("hk").alias("k"),
                            F.col("akey").alias("from_a"))
    tails = open_ext.select(F.col("tk").alias("k"),
                            F.col("akey").alias("to_a"))
    edge_rows = (heads.join(tails, "k")
                 .select("from_a", "to_a").distinct().collect())

    # driver-side cycle walk (edge count ~ exterior/gap arc count, the
    # 1-D boundary of the coverage, not its area)
    nxt: dict = {}
    for r in sorted(edge_rows, key=lambda r: (bytes(r["from_a"]),
                                              bytes(r["to_a"]))):
        fa, ta = bytes(r["from_a"]), bytes(r["to_a"])
        if fa not in nxt:
            nxt[fa] = ta
    loop_of: dict = {}
    pos_of: dict = {}
    for start in sorted(nxt):
        if start in loop_of:
            continue
        path, cur = [], start
        seen = set()
        while cur not in seen and cur not in loop_of and cur in nxt:
            seen.add(cur)
            path.append(cur)
            cur = nxt[cur]
        if cur in seen:  # closed a new cycle at `cur`
            i0 = path.index(cur)
            cyc = path[i0:]
            lid = min(cyc)
            for i, ak in enumerate(cyc):
                loop_of[ak] = lid
                pos_of[ak] = (i - cyc.index(lid)) % len(cyc)

    spark = features.sparkSession
    loop_rows = [(k, loop_of[k], pos_of[k]) for k in loop_of]
    if loop_rows:
        loops_df = spark.createDataFrame(
            loop_rows, "akey binary, loop binary, pos int")
    else:
        loops_df = spark.createDataFrame(
            [], "akey binary, loop binary, pos int")

    rep_schema = ("fid long, pr long, run int, npts binary, "
                  "drop boolean")

    def gap_width(ring: np.ndarray) -> float:
        cell = max(W / 16.0, 1e-12)
        x0, y0 = ring.min(axis=0) - cell
        x1, y1 = ring.max(axis=0) + cell
        w = max(int(np.ceil((x1 - x0) / cell)), 2)
        h = max(int(np.ceil((y1 - y0) / cell)), 2)
        gt = [x0, cell, 0.0, y1, 0.0, -cell]
        inside = rasterize_rings([ring], gt, w, h, burn=1.0) > 0
        if not inside.any():
            return 0.0
        d = proximity(~inside, cell)
        return float(2.0 * d[inside].max())

    def resolve_loop(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({k: [] for k in
                              ("fid", "pr", "run", "npts", "drop")})
        pdf = pdf.sort_values("pos")
        arcs = [np.frombuffer(bytes(b)).reshape(-1, 2)
                for b in pdf["opts"]]
        ring = arcs[0]
        for p in arcs[1:]:
            ring = np.concatenate([ring, p[1:]], axis=0)
        if not (ring[0] == ring[-1]).all():
            ring = np.concatenate([ring, ring[:1]], axis=0)
        # positive = a component's true exterior; ~zero = degenerate
        # coincident-edge sliver (nothing to merge, and splicing one
        # would corrupt its owners) — both skipped
        if G._ring_signed_area(ring) >= -1e-12:
            return empty.astype({"fid": "int64", "pr": "int64",
                                 "run": "int32", "drop": "bool"})
        if gap_width(ring) > W:
            return empty.astype({"fid": "int64", "pr": "int64",
                                 "run": "int32", "drop": "bool"})
        lens = pdf["alen"].to_numpy()
        keys = [bytes(b) for b in pdf["akey"]]
        j = int(min(range(len(lens)),
                    key=lambda i: (-lens[i], keys[i])))
        m = len(arcs)
        if m == 1:
            # junction-free narrow hole: the ring vanishes entirely
            return pd.DataFrame({
                "fid": [int(pdf["fid"].iloc[j])],
                "pr": [int(pdf["pr"].iloc[j])],
                "run": [int(pdf["run"].iloc[j])],
                "npts": [b""], "drop": [True]})
        path = None
        for step in range(1, m):
            a = arcs[(j - step) % m][::-1]
            path = a if path is None else np.concatenate(
                [path, a[1:]], axis=0)
        return pd.DataFrame({
            "fid": [int(pdf["fid"].iloc[j])],
            "pr": [int(pdf["pr"].iloc[j])],
            "run": [int(pdf["run"].iloc[j])],
            "npts": [np.ascontiguousarray(path).tobytes()],
            "drop": [False]})

    looped = ext.join(F.broadcast(loops_df), "akey")
    closed_loops = (ext.where(F.col("closed"))
                    .withColumn("loop", F.col("akey"))
                    .withColumn("pos", F.lit(0)))
    candidates = looped.unionByName(
        closed_loops.select(*looped.columns))
    reps = candidates.groupBy("loop").applyInPandas(
        resolve_loop, schema=rep_schema)

    drops = reps.where(F.col("drop")).select("fid", "pr")
    repl = reps.where(~F.col("drop")).select(
        "fid", "pr", "run", "npts")
    runs = (arcsrc
            .join(drops.withColumn("dropped", F.lit(True)),
                  ["fid", "pr"], "left")
            .where(F.col("dropped").isNull())
            .join(repl, ["fid", "pr", "run"], "left")
            .select(
                "fid", "pr", "run",
                F.coalesce("npts", "pts").alias("spts"),
                F.when(F.col("npts").isNotNull(), F.lit(False))
                .otherwise(F.col("rev")).alias("rev"),
                "closed"))
    return _reassemble_polygons(runs)


def snap_coverage(features: DataFrame, snapping_distance: float,
                  fid_col: str = "fid", wkb_col: str = "wkb") -> DataFrame:
    """gdal vector clean-coverage, the node-snapping half
    (apps/gdalalg_vector_clean_coverage.cpp:35 snapping-distance ->
    GEOSCoverageCleanParams_setSnappingDistance): snap-round every vertex
    to a grid of cell ``snapping_distance`` so near-miss vertices between
    neighbours (digitisation jitter below the tolerance) land on the
    bit-identical coordinate — restoring the shared-vertex coverage
    contract the arc operators rely on.  Consecutive duplicate vertices
    dedupe; rings collapsing below 3 distinct vertices drop (a dropped
    outer ring drops its part).

    Map-only (zero shuffles).  Power-of-two grids snap exactly (binary
    scaling is lossless); other grids carry one representation rounding,
    identical for all copies of a vertex."""
    import numpy as np

    from ..oracle import geom as G

    d = float(snapping_distance)
    if d <= 0:
        raise ValueError("snapping_distance must be > 0")

    def snap(it):
        for pdf in it:
            fids, wkbs = [], []
            for fid, wkb in zip(pdf[fid_col], pdf[wkb_col]):
                kind, data = G.parse_wkb(bytes(wkb))
                parts = [data] if kind == "polygon" else list(data)
                nparts = []
                for rings in parts:
                    nr = []
                    for ri, ring in enumerate(rings):
                        p = np.asarray(ring, dtype=np.float64)
                        q = np.round(p / d) * d
                        keep = np.ones(len(q), dtype=bool)
                        keep[1:] = (q[1:] != q[:-1]).any(axis=1)
                        q = q[keep]
                        if len(q) >= 2 and (q[0] == q[-1]).all():
                            q = q[:-1]
                        if len(np.unique(q, axis=0)) < 3:
                            if ri == 0:
                                nr = None
                            continue
                        if nr is not None:
                            nr.append(np.concatenate([q, q[:1]], axis=0))
                    if nr:
                        nparts.append(nr)
                if not nparts:
                    continue
                if len(nparts) == 1:
                    out = G.to_wkb("polygon", nparts[0])
                else:
                    out = G.to_wkb("multipolygon", nparts)
                fids.append(int(fid))
                wkbs.append(out)
            yield pd.DataFrame({"fid": fids, "wkb": wkbs})

    return features.mapInPandas(snap, schema="fid long, wkb binary")
