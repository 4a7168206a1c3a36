"""Python workers of a ``get_spark`` session import the installed pyspark,
not Spark's source archives (``gdal_spark.workerd``); its driver heap
default fits the host."""

import os
import subprocess
import sys
import zipfile

import pytest

from gdal_spark.workerd import trim

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    import pyspark

    from gdal_spark.runtime import ensure_runtime

    ensure_runtime(spark)  # ships no package zip to a get_spark session

    def _worker_report(_):
        import sys
        import zipimport

        import pyspark

        yield {
            "file": pyspark.__file__,
            "version": pyspark.__version__,
            "zipimporters": [k for k, v in sys.path_importer_cache.items()
                             if isinstance(v, zipimport.zipimporter)],
            "archives": [p for p in sys.path
                         if p.endswith((".zip", ".jar")) and os.path.isfile(p)],
        }

    reports = spark.sparkContext.parallelize(range(2), 2) \
        .mapPartitions(_worker_report).collect()
    assert len(reports) == 2
    for r in reports:
        assert os.path.isfile(r["file"]), r["file"]  # not inside an archive
        assert r["version"] == pyspark.__version__
        assert r["zipimporters"] == []
        assert r["archives"] == []


def test_package_import_leaves_pyspark_unimported():
    # ``python -m gdal_spark.workerd`` imports the package first; the trim
    # must run before anything imports pyspark.
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, gdal_spark, gdal_spark.workerd; "
         "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"],
        cwd=ROOT, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_driver_memory_default_fits_host(monkeypatch):
    from gdal_spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    got = default_driver_memory()
    assert got.endswith("m")
    assert int(got[:-1]) == min(total_mb // 2, 24 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


VERSION = b'__version__ = "9.9.9"\n'
ARCHIVES = {"pyspark.zip": {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION},
            "py4j-src.zip": {"py4j/__init__.py": b""}}


@pytest.fixture
def layout(tmp_path):
    """Builds archives like Spark's plus an installed-package directory of
    ``site_files`` and returns (path, PYTHONPATH); afterwards forgets the
    importers that the trim's lookups cached for these entries."""
    def build(site_files):
        zips = [str(tmp_path / name) for name in ARCHIVES]
        for zp, files in zip(zips, ARCHIVES.values()):
            with zipfile.ZipFile(zp, "w") as z:
                for n, data in files.items():
                    z.writestr(n, data)
        site = tmp_path / "site"
        for n, data in site_files.items():
            (site / n).parent.mkdir(parents=True, exist_ok=True)
            (site / n).write_bytes(data)
        return [str(tmp_path), *zips, str(site)], os.pathsep.join(zips)

    yield build
    for key in list(sys.path_importer_cache):
        if str(key).startswith(str(tmp_path)):
            del sys.path_importer_cache[key]


def test_trim_drops_archives_when_installed_pyspark_matches(layout):
    path, pythonpath = layout({"pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
                               "py4j/__init__.py": b""})
    assert trim(path, pythonpath) == [path[0], path[-1]]
    assert trim(path, "") == path


@pytest.mark.parametrize("site_files", [
    {"py4j/__init__.py": b""},
    {"pyspark/__init__.py": b"", "pyspark/version.py": b'__version__ = "9.9.8"\n',
     "py4j/__init__.py": b""},
    {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION},
], ids=["pyspark-only-in-archive", "version-differs", "py4j-only-in-archive"])
def test_trim_keeps_path_otherwise(layout, site_files):
    path, pythonpath = layout(site_files)
    assert trim(path, pythonpath) == path
