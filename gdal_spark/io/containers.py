"""Container sinks/sources — single-file geodata formats.

SQLite-backed containers (MBTiles, GeoPackage raster tiles, GeoPackage
features) are single-writer files: rows stream to the driver via
``toLocalIterator`` with bounded memory (one partition in flight), never
a full collect.  The horizontally-parallel sinks (z/x/y directories,
per-image COGs) remain in operators/tiling.py — these are the
interchange formats a reference user hands to other tools.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_mbtiles(tiles: DataFrame, path: str, name: str = "gdal_spark",
                  fmt: str = "png", batch_rows: int = 4096) -> int:
    """MBTiles sink — the reference's SQLite container
    (frmts/mbtiles/mbtilesdataset.cpp:3023-3037 schema: ``tiles(zoom_level,
    tile_column, tile_row, tile_data)`` with the UNIQUE key, ``metadata``
    name/value pairs; tile_row is TMS/south-origin per the MBTiles spec,
    which is this engine's internal y convention — no flip).

    SQLite is a single-writer single-file container, so rows stream to
    the driver through ``toLocalIterator`` (one partition in flight —
    bounded memory, never a full collect); the horizontally-parallel sink
    remains ``write_tile_directory``.  Collisions reduce
    deterministically (lowest image_id wins) like the directory sink.
    Returns the number of tiles written."""
    import os
    import sqlite3

    from ..oracle.mercator import meters_to_lonlat, tile_bounds

    if "image_id" in tiles.columns:
        one_per_key = (
            tiles.groupBy("z", "x", "y")
            .agg(F.min_by("tile", "image_id").alias("tile"))
        )
    else:
        one_per_key = tiles.dropDuplicates(["z", "x", "y"])

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA synchronous = OFF")
        con.execute(
            "CREATE TABLE tiles (zoom_level INTEGER NOT NULL,"
            "tile_column INTEGER NOT NULL, tile_row INTEGER NOT NULL,"
            "tile_data BLOB NOT NULL,"
            "UNIQUE (zoom_level, tile_column, tile_row))")
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        n = 0
        zmin = zmax = None
        ext = [None, None, None, None]  # minx, miny, maxx, maxy (meters)
        batch = []
        for row in one_per_key.select("z", "x", "y", "tile").toLocalIterator():
            z, x, y = int(row["z"]), int(row["x"]), int(row["y"])
            batch.append((z, x, y, bytes(row["tile"])))
            zmin = z if zmin is None else min(zmin, z)
            zmax = z if zmax is None else max(zmax, z)
            b = tile_bounds(x, y, z)
            ext[0] = b[0] if ext[0] is None else min(ext[0], b[0])
            ext[1] = b[1] if ext[1] is None else min(ext[1], b[1])
            ext[2] = b[2] if ext[2] is None else max(ext[2], b[2])
            ext[3] = b[3] if ext[3] is None else max(ext[3], b[3])
            if len(batch) >= batch_rows:
                con.executemany("INSERT INTO tiles VALUES (?,?,?,?)", batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany("INSERT INTO tiles VALUES (?,?,?,?)", batch)
            n += len(batch)
        meta = {"name": name, "type": "overlay", "version": "1.1",
                "description": name, "format": fmt}
        if zmin is not None:
            lo = meters_to_lonlat(ext[0], ext[1])
            hi = meters_to_lonlat(ext[2], ext[3])
            meta["minzoom"] = str(zmin)
            meta["maxzoom"] = str(zmax)
            meta["bounds"] = (f"{lo[0]:.7f},{lo[1]:.7f},"
                              f"{hi[0]:.7f},{hi[1]:.7f}")
        con.executemany("INSERT INTO metadata VALUES (?,?)",
                        list(meta.items()))
        con.commit()
    finally:
        con.close()
    return n


def read_mbtiles(spark, path: str, chunk_rows: int = 4096):
    """Open an MBTiles container as (tiles_df, metadata dict): chunked
    driver-side reads (the container is one local SQLite file) feeding
    ``spark.createDataFrame`` — at corpus scale tiles live in the
    directory/parquet sinks; this is the interchange path."""
    import sqlite3

    import pandas as pd2

    con = sqlite3.connect(path)
    try:
        meta = dict(con.execute("SELECT name, value FROM metadata"))
        frames = []
        cur = con.execute(
            "SELECT zoom_level AS z, tile_column AS x, tile_row AS y, "
            "tile_data AS tile FROM tiles")
        while True:
            rows = cur.fetchmany(chunk_rows)
            if not rows:
                break
            frames.append(pd2.DataFrame(
                rows, columns=["z", "x", "y", "tile"]))
    finally:
        con.close()
    if frames:
        pdf = pd2.concat(frames, ignore_index=True)
    else:
        pdf = pd2.DataFrame({"z": [], "x": [], "y": [], "tile": []})
    return spark.createDataFrame(
        pdf, schema="z int, x int, y int, tile binary"), meta


_GPKG_SRS_ROWS = [
    ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", None),
    ("Undefined geographic SRS", 0, "NONE", 0, "undefined", None),
    ("WGS 84 geodetic", 4326, "EPSG", 4326,
     'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
     '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
     "longitude/latitude on WGS 84"),
    ("WGS 84 / Pseudo-Mercator", 3857, "EPSG", 3857,
     'PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",'
     'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
     'UNIT["degree",0.0174532925199433]],PROJECTION["Mercator_1SP"],'
     'UNIT["metre",1]]', "WebMercator tile grid"),
]


def _gpkg_create_system(con) -> None:
    """The GeoPackage core system tables every GPKG carries
    (ogrgeopackagedatasource.cpp:5120-5260): application_id pragma,
    gpkg_spatial_ref_sys with the two required undefined SRS rows plus
    4326/3857, and gpkg_contents."""
    con.execute("PRAGMA application_id = 1196444487")  # 'GPKG'
    con.execute("PRAGMA user_version = 10300")         # GeoPackage 1.3
    con.execute(
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL,"
        "srs_id INTEGER NOT NULL PRIMARY KEY,organization TEXT NOT NULL,"
        "organization_coordsys_id INTEGER NOT NULL,"
        "definition TEXT NOT NULL,description TEXT)")
    con.executemany(
        "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        _GPKG_SRS_ROWS)
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY "
        "KEY,data_type TEXT NOT NULL,identifier TEXT UNIQUE,"
        "description TEXT DEFAULT '',last_change DATETIME NOT NULL "
        "DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),min_x DOUBLE,"
        "min_y DOUBLE,max_x DOUBLE,max_y DOUBLE,srs_id INTEGER)")


def write_geopackage_tiles(tiles: DataFrame, path: str,
                           table_name: str = "tiles",
                           batch_rows: int = 4096) -> int:
    """GeoPackage raster-tile sink — the OGC container the reference's
    gpkg driver writes (ogr/ogrsf_frmts/gpkg/ogrgeopackagedatasource.cpp
    :5120-5310 system-table DDL): gpkg_spatial_ref_sys with the two
    required undefined SRS rows + 4326 + 3857, gpkg_contents (data_type
    'tiles', 3857 bbox), gpkg_tile_matrix_set anchored to the FULL
    WebMercator extent so tile_column/row stay the global grid indices,
    one gpkg_tile_matrix row per zoom (2^z x 2^z matrix, 256-px tiles,
    pixel size = zoom resolution), and the pyramid user table with the
    UNIQUE(zoom_level, tile_column, tile_row) key.  GPKG rows are
    NORTH-origin: tile_row = 2^z - 1 - y_tms.  Driver-streamed writes
    like write_mbtiles (single-writer SQLite).  Returns tiles written."""
    import os
    import sqlite3

    from ..oracle.mercator import ORIGIN_SHIFT, resolution

    if "image_id" in tiles.columns:
        one_per_key = (
            tiles.groupBy("z", "x", "y")
            .agg(F.min_by("tile", "image_id").alias("tile"))
        )
    else:
        one_per_key = tiles.dropDuplicates(["z", "x", "y"])

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        _gpkg_create_system(con)
        con.execute(
            "CREATE TABLE gpkg_tile_matrix_set (table_name TEXT NOT NULL "
            "PRIMARY KEY,srs_id INTEGER NOT NULL,min_x DOUBLE NOT NULL,"
            "min_y DOUBLE NOT NULL,max_x DOUBLE NOT NULL,"
            "max_y DOUBLE NOT NULL)")
        con.execute(
            "CREATE TABLE gpkg_tile_matrix (table_name TEXT NOT NULL,"
            "zoom_level INTEGER NOT NULL,matrix_width INTEGER NOT NULL,"
            "matrix_height INTEGER NOT NULL,tile_width INTEGER NOT NULL,"
            "tile_height INTEGER NOT NULL,pixel_x_size DOUBLE NOT NULL,"
            "pixel_y_size DOUBLE NOT NULL,"
            "CONSTRAINT pk_ttm PRIMARY KEY (table_name, zoom_level))")
        con.execute(
            f"CREATE TABLE \"{table_name}\" (id INTEGER PRIMARY KEY "
            "AUTOINCREMENT,zoom_level INTEGER NOT NULL,"
            "tile_column INTEGER NOT NULL,tile_row INTEGER NOT NULL,"
            "tile_data BLOB NOT NULL,"
            "UNIQUE (zoom_level, tile_column, tile_row))")

        n = 0
        zooms = set()
        ext = [None] * 4
        batch = []
        ins = (f"INSERT INTO \"{table_name}\" (zoom_level, tile_column, "
               "tile_row, tile_data) VALUES (?,?,?,?)")
        from ..oracle.mercator import tile_bounds

        for row in one_per_key.select("z", "x", "y", "tile").toLocalIterator():
            z, x, y = int(row["z"]), int(row["x"]), int(row["y"])
            batch.append((z, x, (1 << z) - 1 - y, bytes(row["tile"])))
            zooms.add(z)
            b = tile_bounds(x, y, z)
            ext[0] = b[0] if ext[0] is None else min(ext[0], b[0])
            ext[1] = b[1] if ext[1] is None else min(ext[1], b[1])
            ext[2] = b[2] if ext[2] is None else max(ext[2], b[2])
            ext[3] = b[3] if ext[3] is None else max(ext[3], b[3])
            if len(batch) >= batch_rows:
                con.executemany(ins, batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany(ins, batch)
            n += len(batch)

        sh = float(ORIGIN_SHIFT)
        con.execute(
            "INSERT INTO gpkg_tile_matrix_set VALUES (?,3857,?,?,?,?)",
            (table_name, -sh, -sh, sh, sh))
        for z in sorted(zooms):
            res = float(resolution(z))
            con.execute(
                "INSERT INTO gpkg_tile_matrix VALUES (?,?,?,?,256,256,?,?)",
                (table_name, z, 1 << z, 1 << z, res, res))
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "min_x, min_y, max_x, max_y, srs_id) VALUES "
            "(?, 'tiles', ?, ?, ?, ?, ?, 3857)",
            (table_name, table_name, ext[0], ext[1], ext[2], ext[3]))
        con.commit()
    finally:
        con.close()
    return n


def read_geopackage_tiles(spark, path: str, table_name: str = "tiles",
                          chunk_rows: int = 4096):
    """Open a GeoPackage tile pyramid as (tiles_df in the engine's TMS y
    convention, tile_matrix rows) — driver-chunked like read_mbtiles."""
    import sqlite3

    import pandas as pd2

    con = sqlite3.connect(path)
    try:
        app_id = con.execute("PRAGMA application_id").fetchone()[0]
        if app_id != 1196444487:
            raise ValueError(f"not a GeoPackage (application_id {app_id})")
        matrix = [dict(zip(("table_name", "zoom_level", "matrix_width",
                            "matrix_height", "tile_width", "tile_height",
                            "pixel_x_size", "pixel_y_size"), r))
                  for r in con.execute(
                      "SELECT * FROM gpkg_tile_matrix WHERE table_name = ?",
                      (table_name,))]
        frames = []
        cur = con.execute(
            f"SELECT zoom_level, tile_column, tile_row, tile_data "
            f"FROM \"{table_name}\"")
        while True:
            rows = cur.fetchmany(chunk_rows)
            if not rows:
                break
            frames.append(pd2.DataFrame(
                [(z, x, (1 << z) - 1 - gy, t) for z, x, gy, t in rows],
                columns=["z", "x", "y", "tile"]))
    finally:
        con.close()
    if frames:
        pdf = pd2.concat(frames, ignore_index=True)
    else:
        pdf = pd2.DataFrame({"z": [], "x": [], "y": [], "tile": []})
    return spark.createDataFrame(
        pdf, schema="z int, x int, y int, tile binary"), matrix


def _gpkg_geom_blob(wkb: bytes, srs_id: int, bbox) -> bytes:
    """Wrap ISO WKB in the GeoPackage geometry header (GPKG spec §2.1.3
    / ogr/ogrsf_frmts/gpkg gpb format): 'GP' magic, version 0, flags byte
    (bit 0 = little-endian, envelope indicator 1 = [minx,maxx,miny,maxy])
    , srs_id, envelope doubles, then the WKB unchanged."""
    import struct

    flags = 0b00000011  # envelope=1 (xy), little-endian
    return (b"GP" + bytes([0, flags])
            + struct.pack("<i", srs_id)
            + struct.pack("<4d", bbox[0], bbox[2], bbox[1], bbox[3])
            + wkb)


def _gpkg_parse_blob(blob: bytes):
    """Inverse of _gpkg_geom_blob -> (wkb, srs_id, envelope or None)."""
    import struct

    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob")
    flags = blob[3]
    little = flags & 1
    env_ind = (flags >> 1) & 0b111
    srs_id = struct.unpack("<i" if little else ">i", blob[4:8])[0]
    n_env = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}[env_ind]
    off = 8 + 8 * n_env
    env = None
    if n_env:
        env = struct.unpack(("<" if little else ">") + f"{n_env}d",
                            blob[8:off])
    return blob[off:], srs_id, env


def write_geopackage_features(df: DataFrame, path: str,
                              table_name: str = "features",
                              wkb_col: str = "wkb", fid_col: str | None = None,
                              srs_id: int = 3857,
                              geometry_type: str = "GEOMETRY",
                              batch_rows: int = 4096) -> int:
    """GeoPackage FEATURES sink — the ogr2ogr-to-GPKG shape: the core
    system tables plus gpkg_geometry_columns
    (ogrgeopackagedatasource.cpp pszCREATE_GPKG_GEOMETRY_COLUMNS) and a
    feature table (fid INTEGER PRIMARY KEY, geom GPKG-header-wrapped WKB,
    remaining DataFrame columns mapped to TEXT/INTEGER/REAL).  Feature
    envelopes and the contents bbox come from the engine's own WKB
    parser.  Driver-streamed (single-writer SQLite).  Returns feature
    count."""
    import os
    import sqlite3

    from ..oracle import geom as G

    attr_cols = [c for c, t in df.dtypes
                 if c not in (wkb_col, fid_col)]
    typemap = {}
    for c, t in df.dtypes:
        if c in attr_cols:
            if t in ("int", "bigint", "smallint", "tinyint", "boolean"):
                typemap[c] = "INTEGER"
            elif t in ("double", "float"):
                typemap[c] = "REAL"
            else:
                typemap[c] = "TEXT"

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        _gpkg_create_system(con)
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL,"
            "column_name TEXT NOT NULL,geometry_type_name TEXT NOT NULL,"
            "srs_id INTEGER NOT NULL,z TINYINT NOT NULL,m TINYINT NOT NULL,"
            "CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))")
        cols_ddl = "".join(
            f",\"{c}\" {typemap[c]}" for c in attr_cols)
        con.execute(
            f"CREATE TABLE \"{table_name}\" (fid INTEGER PRIMARY KEY "
            f"AUTOINCREMENT,geom BLOB{cols_ddl})")

        sel = [wkb_col] + attr_cols + ([fid_col] if fid_col else [])
        n = 0
        ext = [None] * 4
        batch = []
        fid_expr = "fid," if fid_col else ""
        ph_n = (1 if fid_col else 0) + 1 + len(attr_cols)
        ins = (f"INSERT INTO \"{table_name}\" ({fid_expr}geom"
               + "".join(f",\"{c}\"" for c in attr_cols)
               + ") VALUES (" + ",".join("?" * ph_n) + ")")
        for row in df.select(*sel).toLocalIterator():
            wkb = bytes(row[wkb_col])
            g = G.parse_wkb(wkb)
            bb = G.bbox(g)
            ext[0] = bb[0] if ext[0] is None else min(ext[0], bb[0])
            ext[1] = bb[1] if ext[1] is None else min(ext[1], bb[1])
            ext[2] = bb[2] if ext[2] is None else max(ext[2], bb[2])
            ext[3] = bb[3] if ext[3] is None else max(ext[3], bb[3])
            vals = [_gpkg_geom_blob(wkb, srs_id, bb)]
            if fid_col:
                vals.insert(0, int(row[fid_col]))
            vals += [row[c] for c in attr_cols]
            batch.append(tuple(vals))
            if len(batch) >= batch_rows:
                con.executemany(ins, batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany(ins, batch)
            n += len(batch)
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', ?, ?, 0, 0)",
            (table_name, geometry_type, srs_id))
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "min_x, min_y, max_x, max_y, srs_id) VALUES "
            "(?, 'features', ?, ?, ?, ?, ?, ?)",
            (table_name, table_name, ext[0], ext[1], ext[2], ext[3], srs_id))
        con.commit()
    finally:
        con.close()
    return n


def read_geopackage_features(spark, path: str,
                             table_name: str = "features",
                             chunk_rows: int = 4096):
    """Open a GPKG feature table as (df with raw WKB + attributes,
    gpkg_geometry_columns row) — header stripped via _gpkg_parse_blob."""
    import sqlite3

    import pandas as pd2

    con = sqlite3.connect(path)
    try:
        gc = con.execute(
            "SELECT table_name, column_name, geometry_type_name, srs_id "
            "FROM gpkg_geometry_columns WHERE table_name = ?",
            (table_name,)).fetchone()
        cur = con.execute(f"SELECT * FROM \"{table_name}\"")
        cols = [d[0] for d in cur.description]
        frames = []
        while True:
            rows = cur.fetchmany(chunk_rows)
            if not rows:
                break
            pdf = pd2.DataFrame(rows, columns=cols)
            pdf["wkb"] = pdf["geom"].map(
                lambda b: _gpkg_parse_blob(bytes(b))[0])
            frames.append(pdf.drop(columns=["geom"]))
    finally:
        con.close()
    pdf = (pd2.concat(frames, ignore_index=True) if frames
           else pd2.DataFrame(columns=["fid", "wkb"]))
    return spark.createDataFrame(pdf), dict(
        zip(("table_name", "column_name", "geometry_type_name", "srs_id"),
            gc)) if gc else None
