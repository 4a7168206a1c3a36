"""Runtime hardening for foreign SparkSessions.

The external driver calls ``queries()[name](spark, sf_dir)`` with a session
it created itself — no PYTHONPATH for executor Python workers, default
Arrow/AQE settings. ``ensure_runtime(spark)`` makes any session usable:

* ships this package to executors via ``sc.addPyFile`` (the packaging zip,
  rebuilt only when a source is newer) — the runtime equivalent of
  ``spark-submit --py-files``; a ``get_spark`` session needs no zip, since
  its worker daemon is this package's own module (session.DAEMON_MODULE);
* applies the engine's session-settable tuning (session.SESSION_CONFS)
  without touching static confs.

It cannot switch the worker daemon: ``spark.python.daemon.module`` is a
static conf, and a ``--py-files`` or ``addPyFile`` package is importable
only inside a task, not by the daemon that forks the workers. So foreign
sessions and the ``jobs/*.py`` spark-submit runs keep Spark's default
daemon, which imports pyspark from Spark's uncompiled source archives.

Idempotent and cheap after the first call.
"""

from __future__ import annotations

import os
import tempfile

from .packaging import build_zip
from .session import DAEMON_MODULE, SESSION_CONFS, add_package_to_pythonpath

_DONE = set()


def ensure_runtime(spark) -> None:
    key = id(spark.sparkContext)
    if key in _DONE:
        return
    add_package_to_pythonpath()
    sc = spark.sparkContext
    if sc.getConf().get("spark.python.daemon.module", "") != DAEMON_MODULE:
        try:
            sc.addPyFile(build_zip(
                os.path.join(tempfile.gettempdir(), "gdal_spark_pkg.zip"),
                reuse=True))
        except Exception:
            pass  # already added, unsupported, or the package runs from a zip
    for k, v in SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave the session's value
    _DONE.add(key)
