"""``gdal raster pipeline`` analogue — chained raster steps fused into
ONE distributed pass.

The reference chains algorithms with ``gdal raster pipeline read ... !
step ! ... ! write ...`` and can serialize the chain as a GDALG JSON
file (``frmts/gdalg/gdalgdataset.cpp``: ``{"type": "gdal_streamed_alg",
"command_line": ...}``) that re-executes lazily. The Spark-native
equivalent of that lazy streaming is kernel FUSION: the parsed chain
becomes a single ``mapInPandas`` stage that decodes each image once,
applies every numpy kernel in order, and encodes once — zero
intermediate materialization, zero shuffles, at any corpus size.

Steps (a practical subset of apps/gdalalg_raster_*.cpp, each delegating
to the engine's existing kernels):

  resize w=<int> h=<int> [r=nearest|bilinear|cubic|...]
  scale [src_min= src_max= dst_min= dst_max=]   (gdal_translate -scale)
  reclassify mapping=<grammar>                   (vrtreclassifier rules)
  neighbors [kernel=] [size=] [method=]          (focal filter)
  hillshade|slope|aspect|tri|tpi|roughness [z=] [azimuth=] [altitude=]
  reproject [r=]                                 (3857 -> 4326 warp)
  nodata-to-alpha nodata=<v>
  expand bands=rgb                               (gray -> rgb)
"""

from __future__ import annotations

import json
import shlex

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def parse_pipeline(text: str) -> list[tuple[str, dict]]:
    """CLI string -> [(step, args)]. Accepts the reference's full form
    ('gdal raster pipeline read ! resize w=64 h=64 ! write') or just the
    '!'-chain; read/write bookends are optional and ignored here (the
    DataFrame is the read, the caller owns the write)."""
    body = text.strip()
    for prefix in ("gdal raster pipeline", "gdal vector pipeline",
                   "gdal pipeline"):
        if body.startswith(prefix):
            body = body[len(prefix):]
            break
    steps = []
    for part in body.split("!"):
        toks = shlex.split(part.strip())
        if not toks or toks[0] in ("read", "write"):
            continue
        args = {}
        for t in toks[1:]:
            if "=" not in t:
                raise ValueError(f"bad step argument {t!r} in {part!r}")
            k, v = t.split("=", 1)
            args[k] = v
        steps.append((toks[0], args))
    return steps


def to_gdalg(text: str) -> str:
    """Serialize a pipeline as the reference's GDALG JSON
    (frmts/gdalg: {"type": "gdal_streamed_alg", "command_line": ...})."""
    parse_pipeline(text)  # validate
    return json.dumps({"type": "gdal_streamed_alg", "command_line": text})


def from_gdalg(blob: str | bytes) -> list[tuple[str, dict]]:
    d = json.loads(blob)
    if d.get("type") != "gdal_streamed_alg":
        raise ValueError("not a GDALG pipeline")
    return parse_pipeline(d["command_line"])


def _f(args, key, default):
    return float(args[key]) if key in args else default


_DEM_OPS = ("hillshade", "slope", "aspect", "tri", "tpi", "roughness")
KNOWN_STEPS = ("resize", "scale", "reclassify", "neighbors", "reproject",
               "nodata-to-alpha", "expand", "calc", "color-map",
               "unscale") + _DEM_OPS


def _apply_step(name: str, args: dict, a: np.ndarray, ctx: dict
                ) -> np.ndarray:
    """One kernel: float64 HxWxC in/out; ctx carries gsd_m/lon/lat and is
    updated when a step changes the grid."""
    from .oracle import dem as DEM
    from .operators.rasterops import (_neighbors_filter, _parse_reclass_mapping,
                                      _resample_any, neighbor_coefs,
                                      reclassify_array)

    if name == "resize":
        w, h = int(args["w"]), int(args["h"])
        out = _resample_any(a, h, w, args.get("r", "nearest"))
        ctx["gsd_m"] *= a.shape[1] / w
        return out
    if name == "scale":
        smin = _f(args, "src_min", float(a.min()))
        smax = _f(args, "src_max", float(a.max()))
        dmin, dmax = _f(args, "dst_min", 0.0), _f(args, "dst_max", 255.0)
        den = (smax - smin) or 1.0
        return (a - smin) * (dmax - dmin) / den + dmin
    if name == "reclassify":
        intervals, default, _ = _parse_reclass_mapping(
            args["mapping"], _f(args, "nodata", None))
        return reclassify_array(a[:, :, 0], intervals, default)[:, :, None]
    if name == "neighbors":
        size = int(args.get("size", 3))
        coefs, method = neighbor_coefs(args.get("kernel", "equal"), size,
                                       args.get("method"))
        return _neighbors_filter(a[:, :, 0], coefs, size, method,
                                 _f(args, "nodata", None))[:, :, None]
    if name in _DEM_OPS:
        v = a[:, :, 0]
        res = ctx["gsd_m"]
        if name == "hillshade":
            out = DEM.hillshade(v, res, res, _f(args, "z", 1.0),
                                _f(args, "azimuth", 315.0),
                                _f(args, "altitude", 45.0))
        elif name == "slope":
            out = DEM.slope_degrees(v, res, res, _f(args, "z", 1.0))
        elif name == "aspect":
            out = DEM.aspect_degrees(v, res, res)
        else:
            out = getattr(DEM, name)(v)
        return np.asarray(out, dtype=np.float64)[:, :, None]
    if name == "unscale":
        # gdal raster unscale (apps/gdalalg_raster_unscale.cpp):
        # true value = raw * scale + offset (GDALRasterBand GetScale/
        # GetOffset convention; this engine takes them as step args since
        # its codecs carry no band metadata)
        return a * _f(args, "scale", 1.0) + _f(args, "offset", 0.0)
    if name == "color-map":
        # gdal raster color-map (apps/gdalalg_raster_color_map.cpp — the
        # GDALColorRelief engine as a pipeline step): band 1 through the
        # ramp in any of the three color-selection modes
        return DEM.color_relief_rgb(
            a[:, :, 0], args.get("mode", "interpolate")
        ).astype(np.float64)
    if name == "reproject":
        from .oracle.tiling import geotransform_3857
        from .oracle.warp import warp_3857_to_4326

        gt = geotransform_3857(ctx["lon"], ctx["lat"], a.shape[1],
                               a.shape[0], ctx["gsd_m"])
        out, _ = warp_3857_to_4326(np.clip(a, 0, 255).astype(np.uint8), gt,
                                   method=args.get("r", "nearest"))
        return np.asarray(out, dtype=np.float64)
    if name == "nodata-to-alpha":
        nd = float(args["nodata"])
        rgb = a[:, :, :3] if a.shape[2] >= 3 else a[:, :, :1]
        alpha = np.where((rgb == nd).all(axis=2), 0.0, 255.0)
        return np.concatenate([rgb, alpha[:, :, None]], axis=2)
    if name == "expand":
        if args.get("bands", "rgb") != "rgb":
            raise ValueError("expand supports bands=rgb")
        return np.repeat(a[:, :, :1], 3, axis=2) if a.shape[2] == 1 else a
    if name == "calc":
        from .oracle.calcexpr import calc_eval

        nb = a.shape[2]
        bindings = {chr(65 + i): a[:, :, min(i, nb - 1)] for i in range(26)}
        v = calc_eval(args["expr"], bindings)
        return np.broadcast_to(v, a.shape[:2]).astype(np.float64)[:, :, None]
    raise ValueError(f"unknown pipeline step {name!r}")


def run_pipeline(images: DataFrame, pipeline: str | list,
                 emit_bytes: bool = False) -> DataFrame:
    """Execute a step chain over the image table as ONE fused map stage:
    decode -> kernels -> (optional PNG encode) + checksum/stats. Accepts
    the CLI string, a GDALG JSON blob, or a parsed [(step, args)] list."""
    from .codecs.png import encode_png
    from .operators.imagemap import map_images
    from .oracle.checksum import checksum_image

    if isinstance(pipeline, (str, bytes)) and str(pipeline).lstrip().startswith("{"):
        steps = from_gdalg(pipeline)
    elif isinstance(pipeline, str):
        steps = parse_pipeline(pipeline)
    else:
        steps = list(pipeline)
    if not steps:
        raise ValueError("empty pipeline")
    for name, _args in steps:
        if name not in KNOWN_STEPS:
            raise ValueError(f"unknown pipeline step {name!r}")

    def per_image(a, r):
        a = a.astype(np.float64)
        ctx = {"gsd_m": float(r.gsd_m), "lon": float(r.lon),
               "lat": float(r.lat)}
        for name, args in steps:
            a = _apply_step(name, args, a, ctx)
        u8 = np.clip(np.round(a), 0, 255).astype(np.uint8)
        # checksum the float chain result (matches the standalone
        # operators' convention); u8 is only the PNG payload
        cs = checksum_image(a)
        yield dict(
            image_id=r.image_id, w2=int(a.shape[1]),
            h2=int(a.shape[0]), bands=int(a.shape[2]),
            cs=int(cs[0] if hasattr(cs, "__len__") else cs),
            vmin=float(np.round(a.min(), 6)),
            vmax=float(np.round(a.max(), 6)),
            png=bytearray(encode_png(u8)) if emit_bytes else None)

    out = map_images(
        images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
        "image_id string, w2 int, h2 int, bands int, cs long, vmin double, "
        "vmax double, png binary", per_image)
    return out if emit_bytes else out.drop("png")


# ---------------------------------------------------------------------------
# gdal vector pipeline (apps/gdalalg_vector_pipeline.cpp + the per-step
# gdalalg_vector_*.cpp algorithms): declarative step chains over a feature
# DataFrame. Attribute steps compile to native Catalyst ops (filter/select/
# sort/limit — zero Python); geometry steps run through the engine's WKB
# kernels (Arrow-batched). The same '!' grammar and GDALG JSON wrapper as
# the raster pipeline.
# ---------------------------------------------------------------------------

VECTOR_STEPS = ("filter", "select", "sort", "limit", "simplify", "buffer",
                "centroid", "convex-hull", "make-valid", "swap-xy",
                "explode-collections", "segmentize", "concave-hull",
                "make-point", "set-field-type", "set-geom-type", "combine",
                "check-geometry")

# OGR field type -> Spark cast target (gdal vector set-field-type,
# apps/gdalalg_vector_set_field_type.cpp)
_OGR_FIELD_TYPES = {
    "Integer": "int", "Integer64": "long", "Real": "double",
    "String": "string", "Date": "date", "DateTime": "timestamp",
    "Boolean": "boolean",
}


def segmentize_coords(pts, max_length: float):
    """OGRSimpleCurve::segmentize (ogr/ogrlinestring.cpp:2648): insert
    evenly spaced intermediate vertices so no segment exceeds
    ``max_length``. Reference quirks kept: the vertex order is
    normalized (reverse when first < last by (x, y)) so a line followed
    in both directions segmentizes identically, the per-segment count is
    ``floor(sqrt(d²/max²) - 0.01)`` and only kicks in when
    ``d² - max² > 1e-5·max²``."""
    import numpy as np

    if max_length <= 0:
        raise ValueError("max_length must be strictly positive")
    p = [(float(x), float(y)) for x, y in pts]
    if len(p) < 2:
        return p
    flip = (p[0][0] < p[-1][0]
            or (p[0][0] == p[-1][0] and p[0][1] < p[-1][1]))
    if flip:
        p = p[::-1]
    sq_max = max_length * max_length
    out = []
    for i in range(len(p)):
        out.append(p[i])
        if i == len(p) - 1:
            break
        dx = p[i + 1][0] - p[i][0]
        dy = p[i + 1][1] - p[i][1]
        sq = dx * dx + dy * dy
        if sq - sq_max > 1e-5 * sq_max:
            n = int(np.floor(np.sqrt(sq / sq_max) - 1e-2))
            for j in range(1, n + 1):
                t = j / (n + 1)
                out.append((p[i][0] + dx * t, p[i][1] + dy * t))
    return out[::-1] if flip else out


def _swap_xy_udf():
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G

    def _swap(g):
        kind, d = g
        if kind == "point":
            return G.to_wkb("point", (d[1], d[0]))
        if kind in ("linestring", "multipoint"):
            return G.to_wkb(kind, [(y, x) for x, y in d])
        if kind == "polygon":
            return G.to_wkb(kind, [[(y, x) for x, y in ring] for ring in d])
        if kind == "multilinestring":
            return G.to_wkb(kind, [[(y, x) for x, y in part] for part in d])
        return G.to_wkb(kind, [[[(y, x) for x, y in ring] for ring in p]
                               for p in d])

    @F.pandas_udf(BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([_swap(G.parse_wkb(bytes(b))) for b in s])

    return _udf


def _explode_parts_udf():
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, BinaryType

    from .oracle import geom as G

    def _parts(g):
        kind, d = g
        if kind == "multipoint":
            return [G.to_wkb("point", p) for p in d]
        if kind == "multilinestring":
            return [G.to_wkb("linestring", p) for p in d]
        if kind == "multipolygon":
            return [G.to_wkb("polygon", p) for p in d]
        return [G.to_wkb(kind, d)]

    @F.pandas_udf(ArrayType(BinaryType()))
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([_parts(G.parse_wkb(bytes(b))) for b in s])

    return _udf


def run_vector_pipeline(features: DataFrame, pipeline: str | list,
                        wkb_col: str = "wkb") -> DataFrame:
    """Execute a vector step chain. Attribute steps stay in whole-stage
    codegen; geometry steps are one Arrow pass each."""
    from pyspark.sql import functions as F

    from .sql.ogr_compat import register_st_functions

    if isinstance(pipeline, (str, bytes)) and str(pipeline).lstrip().startswith("{"):
        steps = from_gdalg(pipeline)
    elif isinstance(pipeline, str):
        steps = parse_pipeline(pipeline)
    else:
        steps = list(pipeline)
    if not steps:
        raise ValueError("empty pipeline")
    for name, _a in steps:
        if name not in VECTOR_STEPS:
            raise ValueError(f"unknown vector pipeline step {name!r}")

    df = features
    register_st_functions(df.sparkSession)
    for name, args in steps:
        if name == "filter":
            df = df.where(args["where"])
        elif name == "select":
            keep = [c.strip() for c in args["fields"].split(",")]
            if wkb_col not in keep:
                keep.append(wkb_col)
            df = df.select(*keep)
        elif name == "sort":
            cols = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
                    for c in args["by"].split(",")]
            df = df.orderBy(*cols)
        elif name == "limit":
            df = df.limit(int(args["n"]))
        elif name == "simplify":
            df = df.withColumn(wkb_col, F.expr(
                f"ST_Simplify({wkb_col}, {float(args['tol'])})"))
        elif name == "buffer":
            df = df.withColumn(wkb_col, F.expr(
                f"ST_Buffer({wkb_col}, {float(args['dist'])})"))
        elif name == "centroid":
            df = df.withColumn(wkb_col, F.expr(f"ST_Centroid({wkb_col})"))
        elif name == "convex-hull":
            df = df.withColumn(wkb_col, F.expr(f"ST_ConvexHull({wkb_col})"))
        elif name == "make-valid":
            df = df.withColumn(wkb_col, F.expr(f"ST_MakeValid({wkb_col})"))
        elif name == "swap-xy":
            df = df.withColumn(wkb_col, _swap_xy_udf()(F.col(wkb_col)))
        elif name == "explode-collections":
            df = (df.withColumn(wkb_col,
                                F.explode(_explode_parts_udf()(F.col(wkb_col)))))
        elif name == "segmentize":
            df = df.withColumn(
                wkb_col,
                _segmentize_udf(float(args["max_length"]))(F.col(wkb_col)))
        elif name == "concave-hull":
            df = df.withColumn(
                wkb_col,
                _concave_hull_udf(float(args.get("ratio", "0.3")))(
                    F.col(wkb_col)))
        elif name == "make-point":
            # gdal vector make-point (apps/gdalalg_vector_make_point.cpp):
            # point geometry from attribute fields (x=, y=; z/m ordinates
            # are dropped by this engine's 2-D WKB model)
            df = df.withColumn(wkb_col, F.expr(
                f"ST_MakePoint({args['x']}, {args['y']})"))
        elif name == "set-field-type":
            t = _OGR_FIELD_TYPES.get(args["type"], args["type"])
            df = df.withColumn(args["field"], F.col(args["field"]).cast(t))
        elif name == "set-geom-type":
            df = df.withColumn(
                wkb_col, _promote_multi_udf(
                    args.get("type", "multi"))(F.col(wkb_col)))
        elif name == "check-geometry":
            # gdal vector check-geometry
            # (apps/gdalalg_vector_check_geometry.cpp): flag invalid
            # geometries via the registered ST_IsValid; drop=true filters
            # them out instead of annotating
            if args.get("drop", "false") == "true":
                df = df.where(F.expr(f"ST_IsValid({wkb_col})"))
            else:
                df = df.withColumn(
                    "geom_valid",
                    F.expr(f"ST_IsValid({wkb_col})").cast("int"))
        elif name == "combine":
            # gdal vector combine (apps/gdalalg_vector_combine.cpp):
            # features -> collections, optionally per group-by field(s).
            # Multipart inputs always flatten into their parts.
            # keep_nested is accepted but changes nothing: the engine's
            # 2-level WKB model cannot nest a Multi* inside a Multi*.
            keys = ([k.strip() for k in args["group_by"].split(",")]
                    if "group_by" in args else [])
            agg = (df.groupBy(*keys) if keys else df.groupBy()).agg(
                F.collect_list(wkb_col).alias("_parts"))
            df = agg.withColumn(
                wkb_col, _combine_udf()(F.col("_parts"))).drop("_parts")
    return df


def _promote_multi_udf(target: str):
    """gdal vector set-geom-type (apps/gdalalg_vector_set_geom_type.cpp)
    restricted to the promote-to-multi direction: single geometries wrap
    into their Multi* container; already-multi pass through."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G

    def _promote(b):
        kind, d = G.parse_wkb(bytes(b))
        if kind in ("multipoint", "multilinestring", "multipolygon"):
            return bytes(b)
        if kind == "point":
            return G.to_wkb("multipoint", [d])
        if kind == "linestring":
            return G.to_wkb("multilinestring", [d])
        if kind == "polygon":
            return G.to_wkb("multipolygon", [d])
        return bytes(b)

    @F.pandas_udf(BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([_promote(b) for b in s])

    return _udf


def _combine_udf():
    """Pack a group's geometries into one Multi* (homogeneous base type
    required — the documented subset of the reference's mixed
    GeometryCollection output); multipart inputs contribute their parts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G

    def _combine(parts):
        singles = []  # (base_kind, coords)
        for b in parts:
            kind, d = G.parse_wkb(bytes(b))
            if kind in ("multipoint", "multilinestring", "multipolygon"):
                singles.extend((kind[5:], p) for p in d)
            else:
                singles.append((kind, d))
        kinds = {k for k, _ in singles}
        if len(kinds) != 1:
            raise ValueError(
                f"combine: mixed geometry types {sorted(kinds)} — "
                "GeometryCollection output is outside this engine's "
                "2-level WKB model")
        base = kinds.pop()
        return G.to_wkb("multi" + base, [d for _, d in singles])

    @F.pandas_udf(BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([_combine(p) for p in s])

    return _udf


def _concave_hull_udf(ratio: float):
    """Per-feature chi-shape concave hull (gdal vector concave-hull /
    GEOS ConcaveHull role; Duckham et al. 2008 — see oracle/chishape.py)
    over the geometry's vertex set."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G
    from .oracle.chishape import concave_hull

    def _verts(g):
        kind, d = g
        if kind == "point":
            return np.asarray([d])
        if kind in ("linestring", "multipoint"):
            return np.asarray(d)
        if kind in ("polygon", "multilinestring"):
            return np.vstack(d)
        return np.vstack([np.vstack(p) for p in d])

    @F.pandas_udf(BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            pts = np.unique(_verts(G.parse_wkb(bytes(b))), axis=0)
            if len(pts) < 3:
                out.append(bytes(b))
                continue
            ring = concave_hull(pts, ratio=ratio)
            out.append(G.to_wkb("polygon", [[tuple(p) for p in ring]]))
        return pd.Series(out)

    return _udf


def _segmentize_udf(max_length: float):
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from .oracle import geom as G

    def _seg(g):
        kind, d = g
        if kind in ("point", "multipoint"):
            return G.to_wkb(kind, d)
        if kind == "linestring":
            return G.to_wkb(kind, segmentize_coords(d, max_length))
        if kind == "polygon":
            return G.to_wkb(kind, [segmentize_coords(r, max_length)
                                   for r in d])
        if kind == "multilinestring":
            return G.to_wkb(kind, [segmentize_coords(p, max_length)
                                   for p in d])
        return G.to_wkb(kind, [[segmentize_coords(r, max_length)
                                for r in poly] for poly in d])

    @F.pandas_udf(BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([_seg(G.parse_wkb(bytes(b))) for b in s])

    return _udf
