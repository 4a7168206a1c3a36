"""Executor-side file sinks and directory sources.

``write_file`` is the one place an executor opens a sink file for writing:
it writes a temp file next to the target, named for the task attempt, and
renames it over the target with ``os.replace``. A reader therefore sees
either the old file or the whole new one, never a truncated one, and a
retried or speculative attempt of the same task writes its own temp.

``write_images`` is the per-image sink on top of it: one pass of
``operators.imagemap.map_images`` whose kernel names each image's files,
counted by the job itself. ``read_files`` is the matching directory
source: a driver-side list of paths loaded executor-parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_file(path: str, data) -> None:
    """Atomically write ``data`` (bytes-like) to ``path``, making its
    directory first. A failed write removes its temp file."""
    from pyspark import TaskContext

    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tc = TaskContext.get()
    tag = (f"{tc.partitionId()}-{tc.attemptNumber()}" if tc is not None
           else f"driver-{os.getpid()}")
    tmp = os.path.join(d, f".{name}.{tag}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def write_images(images: DataFrame, root: str, per_image) -> int:
    """Per-image sink: for each image, ``per_image(arr, row)`` yields
    ``(file name, bytes)`` pairs written under ``root``; ``row`` has the
    image's ``image_id``, ``lon``, ``lat`` and ``gsd_m``. Returns the
    number of images, counted from the successful tasks of the write job,
    so a retried task is counted once."""
    from ..operators.imagemap import map_images

    os.makedirs(root, exist_ok=True)

    def kernel(arr, r):
        for name, data in per_image(arr, r):
            write_file(os.path.join(root, name), data)
        yield (r.image_id,)

    return map_images(images, ["image_id", "bytes", "lon", "lat", "gsd_m"],
                      "image_id string", kernel).count()


def read_files(spark, items: list, load, schema: str) -> DataFrame:
    """Directory source: ``items`` (paths, or tuples holding them) listed on
    the driver are spread over up to 64 tasks, and ``load(items)`` yields
    each task's rows of the DDL ``schema``."""
    rdd = spark.sparkContext.parallelize(items, max(1, min(len(items), 64)))
    return spark.createDataFrame(rdd.mapPartitions(load), schema)
