"""Doc/driver-contract checks (no Spark session needed).

The external correctness driver grades the FIRST 50 entries of
``queries()``; the registry keeps exactly 50 queries, every one with
DuckDB oracle SQL.  README's registry count is asserted against
``len(QUERIES)`` so it cannot drift (round-4 VERDICT record-keeping nit).
"""

import os
import re

import gdal_spark.queries as Q

README = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "README.md")


def test_readme_registry_count_matches():
    text = open(README).read()
    m = re.search(r"(\d+) operator queries, (\d+) with", text)
    assert m, "README registry line missing"
    assert int(m.group(1)) == len(Q.QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(Q.QUERIES)}"
        " — regenerate the README count")
    n_oracled = sum(1 for _, o in Q.QUERIES.values() if o is not None)
    assert int(m.group(2)) == n_oracled


def test_every_entry_has_oracle_sql():
    """A registry entry is a value gate: an entry without oracle SQL is
    graded by nothing."""
    bare = [n for n, (_, o) in Q.QUERIES.items()
            if not (isinstance(o, str) and o.strip())]
    assert not bare, f"entries without oracle SQL: {bare}"


def test_driver_window_exactly_50_oracled_first():
    names = list(Q.QUERIES)
    oracled = {n for n, (_, o) in Q.QUERIES.items() if o is not None}
    assert len(oracled) == 50, (
        f"{len(oracled)} oracled queries — the driver grades exactly the"
        " first 50; add value via modes in existing slots, not new slots")
    assert all(n in oracled for n in names[:50])
    assert set(names) == set(Q.QUERIES)


def test_entry_module_contract():
    import __spark_entry__ as e

    qq = list(e.queries())
    oo = e.oracle_sql()
    assert len(qq) == len(Q.QUERIES)
    assert sum(1 for n in qq[:50] if n in oo) == 50
    # oracle SQL strings are non-empty ANSI SQL
    assert all(isinstance(s, str) and s.strip() for s in oo.values())


# Loops that decode outside ``map_images``, each for a reason that loop
# cannot express: per-image groups of joined points, two blobs with an
# equal-bytes short circuit, a second blob per row, one per-pixel frame
# per image, and the decode error as output.  The per-image file sinks
# run through ``map_images`` (``io.files.write_images``).
_OWN_DECODE_LOOPS = {
    ("operators/rasterops.py", "sample_at_points"),
    ("operators/rasterops.py", "raster_compare"),
    ("operators/rasterops.py", "raster_blend"),
    ("operators/rasterops.py", "raster_to_xyz"),
    ("operators/rasterops.py", "dataset_check"),
}


def test_decode_only_in_the_image_loop():
    """A per-row ``codecs.registry.decode`` call inside a nested function
    is a hand-copied image loop; operators route through
    ``operators.imagemap.map_images`` instead."""
    import ast

    root = os.path.dirname(os.path.abspath(Q.__file__))
    found = []
    for dirpath, _, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "operators/imagemap.py":
                continue
            tree = ast.parse(open(path).read())
            names = {a.asname or a.name for n in ast.walk(tree)
                     if isinstance(n, ast.ImportFrom)
                     and (n.module or "").endswith("codecs.registry")
                     for a in n.names if a.name == "decode"}
            for top in tree.body:
                if not isinstance(top, ast.FunctionDef):
                    continue
                for inner in ast.walk(top):
                    if inner is top or not isinstance(
                            inner, (ast.FunctionDef, ast.Lambda)):
                        continue
                    for c in ast.walk(inner):
                        if (isinstance(c, ast.Call)
                                and isinstance(c.func, ast.Name)
                                and c.func.id in names
                                and (rel, top.name) not in _OWN_DECODE_LOOPS):
                            found.append(f"{rel}:{c.lineno} ({top.name})")
    assert not found, f"per-image loops outside map_images: {sorted(set(found))}"
