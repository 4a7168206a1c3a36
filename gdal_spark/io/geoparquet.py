"""GeoParquet sink/source — the reference's Parquet/GeoParquet vector
driver (``ogr/ogrsf_frmts/parquet/``) re-expressed natively: Spark's own
parquet scan does the columnar work; what the format adds is the ``geo``
footer key-value metadata (GeoParquet spec 1.0: version, primary_column,
per-column encoding/geometry_types/bbox) that makes the file
self-describing to any GeoParquet reader.

Writes are executor-parallel: each partition writes its own
``part-NNNNN.parquet`` via pyarrow (atomically, ``io.files.write_file``)
with a footer whose bbox covers that file's rows (the spec's bbox is
per-file, which is exactly what row-group pruning wants — GDAL's reader
uses it the same way, ogrparquetlayer.cpp:333-343).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

GEO_VERSION = "1.0.0"

_TYPE_NAMES = {
    "point": "Point", "linestring": "LineString", "polygon": "Polygon",
    "multipoint": "MultiPoint", "multilinestring": "MultiLineString",
    "multipolygon": "MultiPolygon",
}


def _geo_meta(primary: str, geometry_types: list[str], bbox) -> bytes:
    return json.dumps({
        "version": GEO_VERSION,
        "primary_column": primary,
        "columns": {
            primary: {
                "encoding": "WKB",
                "geometry_types": sorted(geometry_types),
                "bbox": [float(v) for v in bbox],
            }
        },
    }).encode()


def write_geoparquet(features: DataFrame, out_dir: str,
                     geometry_col: str = "wkb") -> int:
    """Write a GeoParquet dataset: one part file per non-empty partition,
    each with the spec's ``geo`` footer metadata (per-file bbox + geometry
    types derived from that file's rows). Returns files written."""
    return write_geoparquet_partitioned(features, out_dir, [], geometry_col)


def read_geoparquet(spark, in_dir: str):
    """Read a GeoParquet dataset: Spark's parquet scan for the data (all
    pruning/pushdown native), plus the parsed + validated ``geo`` footer
    of one part file. Returns (DataFrame, geo_metadata_dict)."""
    import pyarrow.parquet as pq

    part = sorted(f for f in os.listdir(in_dir) if f.endswith(".parquet"))
    if not part:
        raise FileNotFoundError(f"no parquet parts under {in_dir}")
    meta = pq.read_schema(os.path.join(in_dir, part[0])).metadata or {}
    if b"geo" not in meta:
        raise ValueError("not a GeoParquet dataset: missing 'geo' footer")
    geo = json.loads(meta[b"geo"])
    prim = geo["primary_column"]
    if geo["columns"][prim]["encoding"] != "WKB":
        raise ValueError("only WKB encoding supported")
    df = spark.read.parquet(in_dir)
    if prim not in df.columns:
        raise ValueError(f"primary geometry column {prim!r} missing")
    return df, geo


def write_geoparquet_partitioned(features: DataFrame, out_dir: str,
                                 by, geometry_col: str = "wkb") -> int:
    """gdal vector partition (apps/gdalalg_vector_partition.cpp): split a
    feature layer into one dataset per distinct value of ``by`` (a field
    name or list of them), written as hive-style ``field=value/``
    subdirectories each holding a valid GeoParquet dataset. With no key
    (``by=[]``) this is ``write_geoparquet``: the part files go straight
    into ``out_dir``, one per input partition, with no repartition.

    Shape at scale: ONE repartition on the partition key(s) routes every
    feature to the executor that owns its directory; each task then
    writes its group files (``io.files.write_file``) — no driver collect,
    no per-group job. Returns total part files written, counted by the
    write job itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..oracle import geom as G
    from .files import write_file

    keys = [by] if isinstance(by, str) else list(by)
    for k in keys:
        if k == geometry_col:
            raise ValueError("cannot partition by the geometry column")
    data_cols = [c for c in features.columns if c not in keys]
    # group rows by key inside each task after a key-hash repartition:
    # every (k1, k2, ...) combination lands in exactly one task
    grouped = features.repartition(*keys) if keys else features
    os.makedirs(out_dir, exist_ok=True)

    def write_part(pid, rows):
        by_dir: dict = {}
        for r in rows:
            d = "/".join(f"{k}={r[k]}" for k in keys)
            by_dir.setdefault(d, []).append(r)
        for d, buf in by_dir.items():
            types, bbox = set(), [float("inf"), float("inf"),
                                  float("-inf"), float("-inf")]
            for r in buf:
                g = G.parse_wkb(bytes(r[geometry_col]))
                types.add(_TYPE_NAMES[g[0]])
                b = G.bbox(g)
                bbox = [min(bbox[0], b[0]), min(bbox[1], b[1]),
                        max(bbox[2], b[2]), max(bbox[3], b[3])]
            arrays, names = [], []
            for c in data_cols:
                name = "geometry" if c == geometry_col else c
                vals = [bytes(r[c]) if c == geometry_col else r[c]
                        for r in buf]
                arrays.append(pa.array(vals))
                names.append(name)
            table = pa.table(dict(zip(names, arrays)))
            table = table.replace_schema_metadata(
                {b"geo": _geo_meta("geometry", sorted(types), bbox)})
            sink = pa.BufferOutputStream()
            pq.write_table(table, sink)
            write_file(os.path.join(out_dir, d, f"part-{pid:05d}.parquet"),
                       sink.getvalue())
            yield d

    return grouped.rdd.mapPartitionsWithIndex(write_part).count()
