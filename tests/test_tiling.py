"""Distributed tile pyramid vs the single-image oracle twin."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.codecs.registry import decode
from gdal_spark.fixtures.images import generate_images_pdf
from gdal_spark.oracle.tiling import build_pyramid, native_zoom, render_image_tiles


@pytest.fixture(scope="module")
def images_pdf():
    return generate_images_pdf(15)


@pytest.fixture(scope="module")
def images_sdf(spark, images_pdf):
    return spark.createDataFrame(images_pdf)


def _oracle_tiles(images_pdf, method="nearest", tminz=None):
    exp = {}
    for r in images_pdf.itertuples(index=False):
        arr = decode(r.bytes)
        if tminz is None:
            for z, tx, ty, tile in render_image_tiles(
                arr, r.lon, r.lat, r.gsd_m, method
            ):
                exp[(r.image_id, z, tx, ty)] = tile
        else:
            for (z, tx, ty), tile in build_pyramid(
                arr, r.lon, r.lat, r.gsd_m, tminz, method
            ).items():
                exp[(r.image_id, z, tx, ty)] = tile
    return exp


@pytest.mark.parametrize("method", ["nearest", "bilinear"])
def test_base_tiles_match_oracle(spark, images_pdf, images_sdf, method):
    from gdal_spark.operators.tiling import render_base_tiles

    got = render_base_tiles(images_sdf, method).toPandas()
    exp = _oracle_tiles(images_pdf, method)
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        tile = decode(r.tile)
        np.testing.assert_array_equal(
            tile, exp[(r.image_id, r.z, r.x, r.y)],
            err_msg=f"{r.image_id} z{r.z} ({r.x},{r.y})",
        )


def test_map_images_rows(spark, images_pdf, images_sdf):
    from gdal_spark.operators.imagemap import map_images

    cols, schema = ["image_id", "bytes"], "image_id string, k int, h long"
    empty = map_images(images_sdf, cols, schema, lambda a, r: ()).toPandas()
    assert len(empty) == 0 and list(empty.columns) == ["image_id", "k", "h"]

    def as_tuples(a, r):
        for k in range(3):
            yield (r.image_id, k, a.shape[0])

    def as_dicts(a, r):
        for k in range(3):
            yield dict(h=a.shape[0], k=k, image_id=r.image_id)

    by_tuple = map_images(images_sdf, cols, schema, as_tuples).collect()
    assert by_tuple == map_images(images_sdf, cols, schema, as_dicts).collect()
    assert len(by_tuple) == 3 * len(images_pdf)
    for r in images_pdf.itertuples(index=False):
        mine = [row for row in by_tuple if row.image_id == r.image_id]
        assert [row.k for row in mine] == [0, 1, 2]
        assert {row.h for row in mine} == {r.h}


def test_captions_survive_tile_render(spark, images_pdf, images_sdf):
    """Base tiles joined back to the image table carry each image's
    caption and phash unchanged, one row per tile."""
    from gdal_spark.operators.tiling import render_base_tiles

    tiles = render_base_tiles(images_sdf, codec=None)
    got = (tiles.join(images_sdf.select("image_id", "caption", "phash"),
                      "image_id")
           .select("image_id", "z", "x", "y", "caption", "phash").toPandas())
    assert len(got) == tiles.count() > len(images_pdf)
    src = images_pdf.set_index("image_id")
    assert (got["caption"].to_numpy()
            == src.loc[got["image_id"], "caption"].to_numpy()).all()
    assert (got["phash"].to_numpy()
            == src.loc[got["image_id"], "phash"].to_numpy()).all()


def test_native_zoom_spread(images_pdf):
    zs = {native_zoom(g) for g in images_pdf["gsd_m"].unique()}
    assert zs == {13, 11, 10, 8}  # gsd 10/50/100/500 m/px


def test_pyramid_matches_oracle(spark, images_pdf, images_sdf):
    from gdal_spark.operators.tiling import build_tile_pyramid

    tminz = 6
    got = build_tile_pyramid(images_sdf, tminz=tminz).toPandas()
    exp = _oracle_tiles(images_pdf, tminz=tminz)
    got_keys = {(r.image_id, r.z, r.x, r.y) for r in got.itertuples(index=False)}
    assert got_keys == set(exp.keys())
    for r in got.itertuples(index=False):
        np.testing.assert_array_equal(
            decode(r.tile), exp[(r.image_id, r.z, r.x, r.y)],
            err_msg=f"{r.image_id} z{r.z} ({r.x},{r.y})",
        )
    # every image reduced down to tminz
    per_img = got.groupby("image_id")["z"].min()
    assert (per_img == tminz).all()


def test_checksum_only_pyramid(spark, images_sdf):
    """codec=None ships no tile bytes, and its keys and checksums are those
    of the PNG pyramid."""
    from gdal_spark.operators.tiling import build_tile_pyramid

    cols = ["image_id", "z", "x", "y", "cs1", "cs2", "cs3"]
    none = build_tile_pyramid(images_sdf, tminz=7, codec=None).toPandas()
    png = build_tile_pyramid(images_sdf, tminz=7, codec="png").toPandas()
    assert len(none) > 0
    assert none["tile"].isna().all()
    assert png["tile"].notna().all()
    pd.testing.assert_frame_equal(
        none[cols].sort_values(cols[:4], ignore_index=True),
        png[cols].sort_values(cols[:4], ignore_index=True),
    )


def test_resume_anti_join_skips_existing(spark, images_sdf):
    from gdal_spark.operators.tiling import render_base_tiles

    first = render_base_tiles(images_sdf).select("image_id", "z", "x", "y")
    first_pdf = first.toPandas()
    base_again = render_base_tiles(images_sdf).join(
        spark.createDataFrame(first_pdf), ["image_id", "z", "x", "y"], "left_anti"
    )
    assert base_again.count() == 0


def test_checksums_populated_and_stable(spark, images_sdf):
    from gdal_spark.operators.tiling import render_base_tiles

    a = render_base_tiles(images_sdf).select("image_id", "z", "x", "y", "cs1").toPandas()
    b = render_base_tiles(images_sdf).select("image_id", "z", "x", "y", "cs1").toPandas()
    a = a.sort_values(["image_id", "z", "x", "y"], ignore_index=True)
    b = b.sort_values(["image_id", "z", "x", "y"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    assert (a["cs1"] >= 0).all()


def test_write_cog_directory(spark, images_sdf, tmp_path):
    import glob

    from gdal_spark.codecs.cog import decode_cog, is_cog_layout
    from gdal_spark.codecs.registry import decode
    from gdal_spark.operators.tiling import write_cog_directory

    root = str(tmp_path / "cogs")
    imgs = images_sdf.limit(4)
    n = write_cog_directory(imgs, root)
    files = sorted(glob.glob(f"{root}/*.tif"))
    assert len(files) == n == 4
    blob = open(files[0], "rb").read()
    arr, nifd, gt = decode_cog(blob)
    assert is_cog_layout(blob) and gt is not None and arr.dtype == np.uint8
    # the registry identifies TIFF magic and decodes band data
    r0 = imgs.toPandas().sort_values("image_id").iloc[0]
    assert (decode(blob) == decode(r0["bytes"])).all()


def test_write_tile_directory(spark, images_sdf, tmp_path):
    import glob

    from gdal_spark.codecs.png import decode_png
    from gdal_spark.operators.tiling import render_base_tiles, write_tile_directory

    tiles = render_base_tiles(images_sdf.limit(5))
    root = str(tmp_path / "tiles")
    n = write_tile_directory(tiles, root, scheme="xyz")
    files = glob.glob(f"{root}/*/*/*.png")
    assert len(files) == n > 0
    arr = decode_png(open(files[0], "rb").read())
    assert arr.shape == (256, 256, 3)
    # per-partition lineage manifests + driver summary cover every tile
    import json

    from gdal_spark.operators.tiling import read_tile_lineage

    manifests = read_tile_lineage(root)
    assert sum(m["n_tiles"] for m in manifests) == n
    assert all(m["bytes"] > 0 and m["partition"] >= 0 for m in manifests)
    summary = json.load(open(f"{root}/_lineage/_summary.json"))
    assert summary["n_tiles"] == n
    assert summary["bytes"] == sum(m["bytes"] for m in manifests)


def _stem(rel):
    return rel.split(".")[0]


# per sink: the unit its returned count counts, for a file path under the
# root (None for files the count leaves out)
_SINK_UNITS = {
    "cog": _stem,
    "envi": _stem,
    "xyz": _stem,
    "ascii_grid": _stem,
    "geoparquet": lambda rel: rel,
    "geoparquet_partitioned": lambda rel: rel,
    "tile_directory": lambda rel: None if rel.startswith("_lineage") else rel,
}


def _run_sink(spark, sink, root):
    from gdal_spark.fixtures.images import images_df
    from gdal_spark.io import ascii_grid, geoparquet, raw_formats
    from gdal_spark.operators import tiling
    from gdal_spark.oracle import geom as G

    imgs = images_df(spark, 3)
    feats = spark.createDataFrame(pd.DataFrame(
        [(i, "ab"[i % 2], G.to_wkb("point", (float(i), float(-i))))
         for i in range(8)], columns=["fid", "grp", "wkb"]))
    return {
        "cog": lambda: tiling.write_cog_directory(imgs, root),
        "envi": lambda: raw_formats.write_envi(imgs, root),
        "xyz": lambda: raw_formats.write_xyz(imgs, root),
        "ascii_grid": lambda: ascii_grid.write_ascii_grids(imgs, root),
        "geoparquet": lambda: geoparquet.write_geoparquet(feats, root),
        "geoparquet_partitioned": lambda: (
            geoparquet.write_geoparquet_partitioned(feats, root, "grp")),
        "tile_directory": lambda: tiling.write_tile_directory(
            tiling.render_base_tiles(imgs), root),
    }[sink]()


@pytest.mark.parametrize("sink", list(_SINK_UNITS))
def test_sink_contract(spark, tmp_path, sink):
    """Every executor-side file sink returns the count of what it put on
    disk (images, part files, or this pass's tiles), leaves no temp or dot
    file behind, and a rerun into the same root rewrites the same bytes
    with the same count."""
    import hashlib
    import os

    from gdal_spark.operators.tiling import read_tile_lineage

    root = str(tmp_path / sink)
    unit = _SINK_UNITS[sink]

    def snapshot():
        out = {}
        for d, _, names in os.walk(root):
            for name in names:
                rel = os.path.relpath(os.path.join(d, name), root)
                assert not any(p.startswith(".") for p in rel.split(os.sep)), rel
                assert not name.endswith(".tmp"), rel
                if unit(rel) is not None:
                    with open(os.path.join(d, name), "rb") as f:
                        out[rel] = hashlib.sha256(f.read()).hexdigest()
        return out

    counts, files = [], []
    for _ in range(2):
        counts.append(_run_sink(spark, sink, root))
        files.append(snapshot())
        assert counts[-1] == len({unit(rel) for rel in files[-1]}) > 0
    assert counts[0] == counts[1] and files[0] == files[1]
    if sink in ("cog", "envi", "xyz", "ascii_grid"):
        assert counts[0] == 3
    if sink == "tile_directory":
        by_gen = [sum(m["n_tiles"] for m in read_tile_lineage(root)
                      if m["generation"] == g) for g in (0, 1)]
        assert by_gen == counts


def test_write_file_is_atomic(tmp_path):
    """A failed write keeps the old file whole and removes its temp."""
    from gdal_spark.io.files import write_file

    path = str(tmp_path / "d" / "t.bin")
    write_file(path, b"old")
    with pytest.raises(TypeError):
        write_file(path, object())
    assert open(path, "rb").read() == b"old"
    assert sorted(p.name for p in (tmp_path / "d").iterdir()) == ["t.bin"]


class TestMBTiles:
    def test_roundtrip_and_schema(self, spark, tmp_path):
        import sqlite3

        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.containers import read_mbtiles, write_mbtiles
        from gdal_spark.operators.tiling import (render_base_tiles,
                                                 write_tile_directory)

        imgs = images_df(spark, 6)
        tiles = render_base_tiles(imgs).persist()
        mb = str(tmp_path / "t.mbtiles")
        n = write_mbtiles(tiles, mb)
        assert n == tiles.dropDuplicates(["z", "x", "y"]).count()

        con = sqlite3.connect(mb)
        cols = [r[1] for r in con.execute("PRAGMA table_info(tiles)")]
        assert cols == ["zoom_level", "tile_column", "tile_row", "tile_data"]
        meta = dict(con.execute("SELECT name, value FROM metadata"))
        assert meta["format"] == "png" and "bounds" in meta
        assert int(meta["minzoom"]) <= int(meta["maxzoom"])
        zc, xc, yc, blob = next(iter(con.execute(
            "SELECT * FROM tiles LIMIT 1")))
        assert _dec(bytes(blob), "png").shape[:2] == (256, 256)
        con.close()

        back, meta2 = read_mbtiles(spark, mb)
        assert back.count() == n and meta2 == meta
        # TMS y convention matches the directory sink's input contract:
        # same (z, x, y) key set as the tile rows themselves
        a = {(r["z"], r["x"], r["y"]) for r in back.collect()}
        b = {(r["z"], r["x"], r["y"])
             for r in tiles.select("z", "x", "y").distinct().collect()}
        assert a == b
        tiles.unpersist()


class TestGeoPackage:
    def test_roundtrip_system_tables_and_row_flip(self, spark, tmp_path):
        import sqlite3

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.containers import (read_geopackage_tiles,
                                              write_geopackage_tiles)
        from gdal_spark.operators.tiling import render_base_tiles
        from gdal_spark.oracle.mercator import ORIGIN_SHIFT, resolution

        imgs = images_df(spark, 6)
        tiles = render_base_tiles(imgs).persist()
        gp = str(tmp_path / "t.gpkg")
        n = write_geopackage_tiles(tiles, gp)
        assert n == tiles.dropDuplicates(["z", "x", "y"]).count()

        con = sqlite3.connect(gp)
        assert con.execute("PRAGMA application_id").fetchone()[0] \
            == 1196444487  # 'GPKG'
        srs = dict((r[1], r[2]) for r in con.execute(
            "SELECT srs_name, srs_id, organization FROM "
            "gpkg_spatial_ref_sys"))
        assert {-1: "NONE", 0: "NONE", 4326: "EPSG", 3857: "EPSG"} == srs
        ct = con.execute("SELECT data_type, srs_id FROM gpkg_contents"
                         ).fetchone()
        assert ct == ("tiles", 3857)
        tms = con.execute("SELECT min_x, max_x FROM gpkg_tile_matrix_set"
                          ).fetchone()
        assert tms[0] == -ORIGIN_SHIFT and tms[1] == ORIGIN_SHIFT
        for tn, z, mw, mh, tw, th, pxs, pys in con.execute(
                "SELECT * FROM gpkg_tile_matrix"):
            assert mw == mh == (1 << z) and tw == th == 256
            assert pxs == pys == float(resolution(z))
        con.close()

        back, matrix = read_geopackage_tiles(spark, gp)
        a = {(r["z"], r["x"], r["y"]) for r in back.collect()}
        b = {(r["z"], r["x"], r["y"])
             for r in tiles.select("z", "x", "y").distinct().collect()}
        assert a == b  # north-origin flip round-trips to TMS exactly
        assert {m["zoom_level"] for m in matrix} == {z for z, _, _ in a}
        tiles.unpersist()


class TestGeoPackageFeatures:
    def test_roundtrip_header_and_attrs(self, spark, tmp_path):
        import sqlite3
        import struct

        import numpy as np
        import pandas as pd

        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.io.containers import (read_geopackage_features,
                                              write_geopackage_features)
        from gdal_spark.oracle import geom as G

        sq = lambda x0, y0, x1, y1: np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
        rows = [
            {"fid": 1, "wkb": bytes(wkb_polygon(sq(0, 0, 10, 5))),
             "name": "a", "score": 1.5, "n": 7},
            {"fid": 2, "wkb": bytes(wkb_polygon(sq(20, -3, 25, 9))),
             "name": "b", "score": -0.25, "n": 9},
        ]
        df = spark.createDataFrame(pd.DataFrame(rows))
        gp = str(tmp_path / "f.gpkg")
        n = write_geopackage_features(df, gp, fid_col="fid",
                                      geometry_type="POLYGON")
        assert n == 2

        con = sqlite3.connect(gp)
        assert con.execute("PRAGMA application_id").fetchone()[0] \
            == 1196444487
        gc = con.execute("SELECT * FROM gpkg_geometry_columns").fetchone()
        assert gc == ("features", "geom", "POLYGON", 3857, 0, 0)
        ct = con.execute(
            "SELECT data_type, min_x, min_y, max_x, max_y FROM "
            "gpkg_contents").fetchone()
        assert ct == ("features", 0.0, -3.0, 25.0, 9.0)
        fid, blob, name, score, nn = con.execute(
            "SELECT fid, geom, name, score, n FROM features "
            "ORDER BY fid").fetchone()
        assert (fid, name, score, nn) == (1, "a", 1.5, 7)
        blob = bytes(blob)
        assert blob[:2] == b"GP" and blob[2] == 0
        assert blob[3] & 1 and ((blob[3] >> 1) & 0b111) == 1
        env = struct.unpack("<4d", blob[8:40])
        assert env == (0.0, 10.0, 0.0, 5.0)  # minx, maxx, miny, maxy
        assert blob[40:] == rows[0]["wkb"]   # WKB payload untouched
        con.close()

        back, gcol = read_geopackage_features(spark, gp)
        assert gcol["srs_id"] == 3857
        got = back.orderBy("fid").collect()
        assert bytes(got[1]["wkb"]) == rows[1]["wkb"]
        assert got[1]["name"] == "b" and got[1]["n"] == 9
        # parsed geometry area survives the container
        k, d = G.parse_wkb(bytes(got[0]["wkb"]))
        assert abs(G._ring_signed_area(d[0])) == 50.0


class TestGeoJSON:
    def test_roundtrip_both_layouts(self, spark, tmp_path):
        import json

        import numpy as np
        import pandas as pd

        from gdal_spark.fixtures.tile_grid import wkb_polygon
        from gdal_spark.io.geojson import read_geojson, write_geojson
        from gdal_spark.oracle import geom as G

        sq = lambda x0, y0, x1, y1: np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
        pt = G.to_wkb("point", np.array([3.5, -1.25]))
        rows = [
            {"fid": 1, "wkb": bytes(wkb_polygon(sq(0, 0, 4, 4))),
             "name": "sq"},
            {"fid": 2, "wkb": bytes(pt), "name": "pt"},
        ]
        df = spark.createDataFrame(pd.DataFrame(rows))

        fc = str(tmp_path / "a.geojson")
        assert write_geojson(df, fc, fid_col="fid") == 2
        doc = json.load(open(fc))
        assert doc["type"] == "FeatureCollection"
        by_id = {f["id"]: f for f in doc["features"]}
        assert by_id[2]["geometry"] == {
            "type": "Point", "coordinates": [3.5, -1.25]}
        assert by_id[1]["geometry"]["type"] == "Polygon"
        assert by_id[1]["properties"] == {"name": "sq"}

        seq = str(tmp_path / "a.geojsonl")
        assert write_geojson(df, seq, fid_col="fid", lines=True) == 2
        assert len(open(seq).read().strip().split("\n")) == 2

        for path in (fc, seq):
            back = read_geojson(spark, path).orderBy("fid").collect()
            assert bytes(back[0]["wkb"]) == rows[0]["wkb"]
            assert bytes(back[1]["wkb"]) == bytes(pt)
            assert back[0]["name"] == "sq"


class TestShapefile:
    def test_roundtrip_polygons_holes_and_attrs(self, spark, tmp_path):
        import struct

        import numpy as np
        import pandas as pd

        from gdal_spark.io.shapefile import read_shapefile, write_shapefile
        from gdal_spark.oracle import geom as G

        sq = lambda x0, y0, x1, y1: np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)
        donut = G.to_wkb("polygon", [sq(0, 0, 10, 10), sq(4, 4, 6, 6)])
        multi = G.to_wkb("multipolygon",
                         [[sq(20, 0, 24, 4)], [sq(30, 0, 33, 3)]])
        df = spark.createDataFrame(pd.DataFrame([
            {"wkb": bytes(donut), "name": "donut", "area": 96.0, "rank": 1},
            {"wkb": bytes(multi), "name": "multi", "area": 25.0, "rank": 2},
        ]))
        base = str(tmp_path / "layer")
        assert write_shapefile(df, base) == 2

        blob = open(base + ".shp", "rb").read()
        assert struct.unpack(">i", blob[:4])[0] == 9994
        assert struct.unpack("<i", blob[28:32])[0] == 1000
        assert struct.unpack("<i", blob[32:36])[0] == 5  # polygon
        bbox = struct.unpack("<4d", blob[36:68])
        assert bbox == (0.0, 0.0, 33.0, 10.0)
        # shx record count from its header length
        shx = open(base + ".shx", "rb").read()
        assert (struct.unpack(">i", shx[24:28])[0] - 50) // 4 == 2

        back = read_shapefile(spark, base).orderBy("rank").collect()
        k, d = G.parse_wkb(bytes(back[0]["wkb"]))
        assert k == "polygon" and len(d) == 2
        # area with the hole subtracted survives the orientation fix-up
        outer = abs(G._ring_signed_area(d[0]))
        hole = abs(G._ring_signed_area(d[1]))
        assert outer - hole == 96.0
        k2, d2 = G.parse_wkb(bytes(back[1]["wkb"]))
        assert k2 == "multipolygon" and len(d2) == 2
        assert back[0]["name"] == "donut"
        assert back[0]["area"] == 96.0 and back[0]["rank"] == 1

    def test_points(self, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from gdal_spark.io.shapefile import read_shapefile, write_shapefile
        from gdal_spark.oracle import geom as G

        pts = [G.to_wkb("point", np.array([1.5, -2.5])),
               G.to_wkb("point", np.array([-3.0, 4.0]))]
        df = spark.createDataFrame(pd.DataFrame(
            [{"wkb": bytes(b), "tag": f"p{i}"} for i, b in enumerate(pts)]))
        base = str(tmp_path / "pts")
        write_shapefile(df, base)
        back = read_shapefile(spark, base).orderBy("tag").collect()
        assert bytes(back[0]["wkb"]) == bytes(pts[0])
        assert back[1]["tag"] == "p1"


class TestAsciiGrid:
    def test_roundtrip_parallel_files(self, spark, tmp_path):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.ascii_grid import (ascii_grid_bytes,
                                              parse_ascii_grid,
                                              read_ascii_grids,
                                              write_ascii_grids)
        from gdal_spark.oracle.tiling import geotransform_3857

        imgs = images_df(spark, 5)
        out = str(tmp_path / "asc")
        n = write_ascii_grids(imgs, out)
        assert n == 5
        back = read_ascii_grids(spark, out).collect()
        assert len(back) == 5
        src = {r["image_id"]: r for r in imgs.collect()}
        for r in back:
            o = src[r["image_id"]]
            a = _dec(bytes(o["bytes"]))[:, :, 0]
            got = np.array(r["values"]).reshape(r["h"], r["w"])
            np.testing.assert_array_equal(got, a)
            gt = geotransform_3857(o["lon"], o["lat"], a.shape[1],
                                   a.shape[0], o["gsd_m"])
            np.testing.assert_allclose(r["gt"], gt, rtol=0, atol=1e-9)

        # kernel-level: nodata header + float body
        b = ascii_grid_bytes(np.array([[1.5, -2.0]]),
                             [10.0, 2.0, 0, 20.0, 0, -2.0], nodata=-9999)
        a2, gt2, nd = parse_ascii_grid(b)
        assert nd == -9999 and a2[0, 1] == -2.0
        assert gt2[0] == 10.0 and gt2[3] == 20.0


class TestRawFormats:
    def test_pnm_codec_identify(self):
        import numpy as np

        from gdal_spark.codecs.registry import decode, encode, identify

        g = (np.arange(20, dtype=np.uint8).reshape(4, 5) * 11)[:, :, None]
        b = encode(g, "pnm")
        assert identify(b) == "PNM"
        np.testing.assert_array_equal(decode(b), g)
        rgb = np.random.default_rng(3).integers(
            0, 256, (6, 4, 3), dtype=np.uint8)
        np.testing.assert_array_equal(decode(encode(rgb, "ppm")), rgb)

    def test_envi_roundtrip_all_interleaves(self, spark, tmp_path):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.raw_formats import read_envi, write_envi
        from gdal_spark.oracle.tiling import geotransform_3857

        imgs = images_df(spark, 4)
        src = {r["image_id"]: r for r in imgs.collect()}
        for il in ("bsq", "bil", "bip"):
            out = str(tmp_path / f"envi_{il}")
            n = write_envi(imgs, out, interleave=il)
            assert n == 4
            back = read_envi(spark, out).collect()
            assert len(back) == 4
            for r in back:
                o = src[r["image_id"]]
                exp = _dec(bytes(o["bytes"]))
                got = _dec(bytes(r["png"]))
                np.testing.assert_array_equal(got, exp)
                gt = geotransform_3857(o["lon"], o["lat"], exp.shape[1],
                                       exp.shape[0], o["gsd_m"])
                np.testing.assert_allclose(r["gt"], gt, rtol=0, atol=1e-9)

    def test_xyz_roundtrip(self, spark, tmp_path):
        import numpy as np

        from gdal_spark.codecs.registry import decode as _dec
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.raw_formats import (parse_xyz, read_xyz,
                                               write_xyz, xyz_bytes)
        from gdal_spark.oracle.tiling import geotransform_3857

        imgs = images_df(spark, 3)
        out = str(tmp_path / "xyz")
        assert write_xyz(imgs, out) == 3
        src = {r["image_id"]: r for r in imgs.collect()}
        for r in read_xyz(spark, out).collect():
            o = src[r["image_id"]]
            a = _dec(bytes(o["bytes"]))[:, :, 0]
            got = np.array(r["values"]).reshape(r["h"], r["w"])
            np.testing.assert_array_equal(got, a)
            gt = geotransform_3857(o["lon"], o["lat"], a.shape[1],
                                   a.shape[0], o["gsd_m"])
            np.testing.assert_allclose(r["gt"], gt, rtol=0, atol=1e-6)

        # kernel-level: centers back out to the corner-anchored gt
        band = np.array([[1, 2], [3, 4]], dtype=np.int32)
        gt0 = [100.0, 10.0, 0.0, 200.0, 0.0, -10.0]
        a2, gt2 = parse_xyz(xyz_bytes(band, gt0))
        np.testing.assert_array_equal(a2, band)
        np.testing.assert_allclose(gt2, gt0, atol=1e-9)


class TestGeoParquet:
    def test_roundtrip_with_geo_metadata(self, spark, tmp_path):
        import json

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.geoparquet import read_geoparquet, write_geoparquet
        from gdal_spark.operators.rasterops import footprint
        from gdal_spark.oracle import geom as G

        imgs = images_df(spark, 10)
        feats = footprint(imgs, threshold=0).select(
            "image_id", "wkb", "n_valid")
        out = str(tmp_path / "gpq")
        n = write_geoparquet(feats, out)
        assert n >= 1
        back, geo = read_geoparquet(spark, out)
        assert geo["version"] == "1.0.0"
        assert geo["primary_column"] == "geometry"
        col = geo["columns"]["geometry"]
        assert col["encoding"] == "WKB"
        assert set(col["geometry_types"]) <= {"Polygon", "MultiPolygon"}
        # data round-trips byte-exact
        src = {r["image_id"]: bytes(r["wkb"]) for r in feats.collect()}
        got = {r["image_id"]: bytes(r["geometry"]) for r in back.collect()}
        assert got == src
        # per-file bbox covers that file's rows
        import os

        import pyarrow.parquet as pq

        f = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))[0]
        t = pq.read_table(os.path.join(out, f))
        meta = json.loads(t.schema.metadata[b"geo"])
        bb = meta["columns"]["geometry"]["bbox"]
        for blob in t.column("geometry").to_pylist():
            e = G.bbox(G.parse_wkb(bytes(blob)))
            assert bb[0] <= e[0] and bb[1] <= e[1]
            assert bb[2] >= e[2] and bb[3] >= e[3]

    def test_rejects_plain_parquet(self, spark, tmp_path):
        import pytest as _pt

        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.geoparquet import read_geoparquet

        out = str(tmp_path / "plain")
        images_df(spark, 3).select("image_id", "w", "h").write.parquet(out)
        with _pt.raises(ValueError, match="geo"):
            read_geoparquet(spark, out)


class TestFootprintCorpusRoundTrip:
    """Traced image footprints (polygons, some with holes) through each
    vector container. Formats that store the engine's WKB give it
    back byte-exact; the shapefile rebuilds rings from parts, so it is
    checked by area."""

    @pytest.fixture(scope="class")
    def feats(self, spark):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.operators.rasterops import footprint

        return footprint(images_df(spark, 40), threshold=0).select(
            "image_id", "wkb", "n_valid").toPandas()

    @pytest.mark.parametrize(
        "fmt", ["gpkg", "geojson", "geojsonseq", "flatgeobuf", "shapefile"])
    def test_roundtrip(self, spark, tmp_path, feats, fmt):
        from gdal_spark.io.containers import (read_geopackage_features,
                                              write_geopackage_features)
        from gdal_spark.io.flatgeobuf import (COL_LONG, read_flatgeobuf,
                                              write_flatgeobuf)
        from gdal_spark.io.geojson import read_geojson, write_geojson
        from gdal_spark.io.shapefile import read_shapefile, write_shapefile
        from gdal_spark.oracle import geom as G

        df = spark.createDataFrame(feats)
        path = str(tmp_path / f"f.{fmt}")
        if fmt == "gpkg":
            write_geopackage_features(df, path)
            back, _ = read_geopackage_features(spark, path)
        elif fmt == "flatgeobuf":
            write_flatgeobuf(df, path, extra_cols={"n_valid": COL_LONG})
            back, _ = read_flatgeobuf(spark, path)
        elif fmt == "shapefile":
            write_shapefile(df, path)
            back = read_shapefile(spark, path)
        else:
            write_geojson(df, path, lines=fmt == "geojsonseq")
            back = read_geojson(spark, path)
        got = {r["image_id"]: bytes(r["wkb"]) for r in back.collect()}
        src = {i: bytes(w) for i, w in zip(feats["image_id"], feats["wkb"])}
        assert set(got) == set(src)
        assert any(len(G.parse_wkb(w)[1]) > 1 for w in src.values())  # holes
        if fmt == "shapefile":
            for i, w in src.items():
                assert G.area(G.parse_wkb(got[i])) == pytest.approx(
                    G.area(G.parse_wkb(w)), rel=1e-12)
        else:
            assert got == src


class TestVrt:
    def test_write_parse_alignment(self, spark, tmp_path):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.vrt import parse_vrt, write_vrt
        from gdal_spark.oracle.tiling import image_bounds_3857

        imgs = images_df(spark, 6)
        pth = str(tmp_path / "m.vrt")
        info = write_vrt(imgs, pth)
        spec = parse_vrt(pth)
        assert spec["srs"] == "EPSG:3857"
        assert spec["xsize"] == info["xsize"]
        assert len(spec["sources"]) == 6
        res = spec["gt"][1]
        minx, maxy = spec["gt"][0], spec["gt"][3]
        src = {r["image_id"]: r for r in imgs.collect()}
        for s in spec["sources"]:
            o = src[s["id"]]
            bx = image_bounds_3857(o["lon"], o["lat"], o["w"], o["h"],
                                   o["gsd_m"])
            assert abs(s["dst_rect"][0] - (bx[0] - minx) / res) < 1e-4
            assert abs(s["dst_rect"][1] - (maxy - bx[3]) / res) < 1e-4
            assert abs(s["dst_rect"][2] - (bx[2] - bx[0]) / res) < 1e-4
            assert s["src_rect"] == [0.0, 0.0, float(o["w"]), float(o["h"])]

    def test_materialize_equals_direct_mosaic(self, spark, tmp_path):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.vrt import materialize_vrt, parse_vrt, write_vrt
        from gdal_spark.operators.rasterops import (mosaic_resolution_zoom,
                                                    mosaic_tiles)

        imgs = images_df(spark, 6)
        pth = str(tmp_path / "m.vrt")
        write_vrt(imgs, pth)
        got = materialize_vrt(spark, imgs, pth, reducer="last")
        z = mosaic_resolution_zoom(imgs, "highest")
        exp = mosaic_tiles(imgs, zoom=z, reducer="last")
        key = lambda df: sorted(
            (r["z"], r["x"], r["y"], r["cs1"], r["cs2"], r["cs3"])
            for r in df.collect())
        assert key(got) == key(exp)

    def test_nodata_source_roundtrip(self, spark, tmp_path):
        from gdal_spark.fixtures.images import images_df
        from gdal_spark.io.vrt import parse_vrt, write_vrt

        imgs = images_df(spark, 3)
        pth = str(tmp_path / "n.vrt")
        write_vrt(imgs, pth, src_nodata=0)
        spec = parse_vrt(pth)
        assert all(s["nodata"] == 0.0 for s in spec["sources"])


class TestGeoParquetPartition:
    """gdal vector partition analogue: hive-style field=value GeoParquet
    subdirectories (apps/gdalalg_vector_partition.cpp)."""

    def test_partition_roundtrip(self, spark, tmp_path):
        import pandas as pd

        from gdal_spark.io.geoparquet import (read_geoparquet,
                                              write_geoparquet_partitioned)
        from gdal_spark.oracle import geom as G

        rows = [(i, "ab"[i % 2], G.to_wkb("point", (float(i), float(-i))))
                for i in range(20)]
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["fid", "grp", "wkb"]))
        n = write_geoparquet_partitioned(df, str(tmp_path / "out"), "grp")
        assert n >= 2
        import os
        subdirs = sorted(os.listdir(tmp_path / "out"))
        assert subdirs == ["grp=a", "grp=b"]
        got_a, geo = read_geoparquet(spark, str(tmp_path / "out" / "grp=a"))
        pa_ = got_a.toPandas()
        assert sorted(pa_["fid"]) == [i for i in range(20) if i % 2 == 0]
        assert geo["columns"]["geometry"]["encoding"] == "WKB"
        # spark reads the whole tree back with the hive column restored
        allr = spark.read.option("basePath", str(tmp_path / "out")).parquet(
            str(tmp_path / "out")).toPandas()
        assert len(allr) == 20 and set(allr["grp"]) == {"a", "b"}
