"""SparkSession factory with the engine's standard tuning.

Single place for the scale-oriented defaults: AQE (runtime re-plan + skew-join
splitting), Arrow-batched pandas UDF transfer, and a shuffle-partition count
sized to the local core count (on a real cluster this is set per job size).
``SESSION_CONFS`` holds the confs a running session accepts: ``get_spark``
builds with them and ``runtime.ensure_runtime`` sets them on a session
built elsewhere.

``get_spark`` also starts the Python workers through ``gdal_spark.workerd``,
which imports the installed, byte-compiled pyspark instead of Spark's
source archives. That conf (``spark.python.daemon.module``) is static, so
it is not in ``SESSION_CONFS``: ``ensure_runtime`` cannot set it on a
running session, and sessions it hardens, like the ``jobs/*.py``
spark-submit runs, keep Spark's default daemon. Under ``--py-files`` the
package reaches the workers only as a per-task include, after the daemon
has started, so the daemon could not import ``gdal_spark.workerd`` there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_MODULE = "gdal_spark.workerd"

SESSION_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # UDF stages cost ~per ROW, not per byte: AQE's 64 MB advisory size
    # coalesces a 60 MB tile-shuffle into 1-2 partitions and strands the
    # cluster on pandas work. 4 MB keeps post-shuffle stages wide enough.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small Arrow batches + a large worker pipe buffer (spark.buffer.size in
    # get_spark) pipeline the JVM<->Python transfer of fat binary rows
    # (~3.5x on the 2.5 GB image column: 10.2s -> 2.9s measured) — big
    # batches serialize whole-batch-at-a-time and stall both sides on the
    # default 64k pipe.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # Decode/render UDFs are CPU-heavy per byte: the 128 MB default packs
    # a whole image table into a handful of scan tasks and strands the
    # other cores (observed 8/32 busy). 8 MB splits ~= seconds-long
    # tasks — the Spark analogue of the warp chunk memory budget
    # (alg/gdalwarpoperation.cpp:611 dfWarpMemoryLimit).
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def add_package_to_pythonpath() -> None:
    """Make this package importable in executor Python workers regardless
    of the driver's cwd — the local-mode analogue of ``--py-files``."""
    pypath = os.environ.get("PYTHONPATH", "")
    if PKG_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = PKG_ROOT + (os.pathsep + pypath if pypath else "")


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this process may use."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else half of physical memory,
    capped at 24g. A fixed 24g heap lets the driver JVM outgrow the RAM of
    a smaller host until the kernel's OOM killer ends it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(total_mb // 2, 24 * 1024)}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "gdal_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    add_package_to_pythonpath()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    conf = {
        **SESSION_CONFS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.buffer.size": str(1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        "spark.driver.memory": default_driver_memory(),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": DAEMON_MODULE,
        **(extra_conf or {}),
    }
    b = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
