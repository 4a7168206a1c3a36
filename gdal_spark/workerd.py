"""Python worker daemon that imports pyspark from the installed package.

Spark puts its own ``pyspark.zip``, the py4j source zip and the spark-core
jar first on every Python worker's ``PYTHONPATH``. The archives hold no
bytecode, so each fresh daemon compiles pyspark from source (about 1 s on a
4-vCPU host), and the ``importlib.invalidate_caches()`` that starts every
task re-reads the central directory of each archive importer (0.15-0.25 s
a task there). Before pyspark's first import this daemon drops those archives
from ``sys.path`` and ``sys.path_importer_cache``, but only when the rest of
the path imports py4j and a pyspark with a byte-identical ``version.py``;
otherwise it leaves the path as it was. ``session.get_spark`` selects it
with ``spark.python.daemon.module``.
"""

import os
import sys
from importlib.machinery import PathFinder


def _version_py(path: list) -> bytes:
    spec = PathFinder.find_spec("pyspark", path)
    loc = spec.submodule_search_locations[0]
    return spec.loader.get_data(os.path.join(loc, "version.py"))


def trim(path: list, pythonpath: str) -> list:
    """``path`` without the ``.zip``/``.jar`` entries of ``pythonpath`` when
    it then still imports py4j and the same pyspark, else ``path`` itself."""
    archives = {p for p in pythonpath.split(os.pathsep) if p.endswith((".zip", ".jar"))}
    kept = [p for p in path if p not in archives]
    try:
        if (kept != path and PathFinder.find_spec("py4j", kept) is not None
                and _version_py(kept) == _version_py(path)):
            return kept
    except Exception:  # whatever the lookup meets, the daemon must start
        pass
    return path


if __name__ == "__main__":
    kept = trim(sys.path, os.environ.get("PYTHONPATH", ""))
    gone = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if key in gone or str(key).startswith(tuple(p + os.sep for p in gone)):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()
