"""Worker-process tuning shared by all engine passes."""

from __future__ import annotations

import ctypes
import sys

_tuned = False

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def tune_malloc() -> None:
    """Keep large numpy temporaries on the heap instead of mmap.

    glibc serves >128 KiB allocations via mmap and frees them via munmap; with
    tens of concurrent workers each churning multi-MB numpy temporaries per
    Arrow batch, the resulting unmap TLB shootdowns serialize the whole host
    (measured on this box: 32-way per-task time 15.6 s -> 2.5 s from this one
    switch).  Raising the mmap/trim thresholds keeps the arena on sbrk heap and
    lets free() reuse pages without kernel round-trips.  Env vars
    (MALLOC_MMAP_THRESHOLD_) can't do this for forked Spark python workers —
    glibc has already initialized in the parent — so we call mallopt directly,
    once per worker process.
    """
    global _tuned
    if _tuned:
        return
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
    except OSError:  # non-glibc platform: harmless no-op
        pass
    _tuned = True


def drop_spark_zip_finders(archives: frozenset[str]) -> None:
    """Drop the cached import finders on Spark's own archives.

    ``archives`` is Spark's Python path as the driver reads it
    (:func:`rlv.engine_files.spark_python_archives`): pyspark.zip, the py4j
    zip and the spark-core jar, all on the workers' ``PYTHONPATH``.
    PySpark's task set-up calls ``importlib.invalidate_caches()`` at the
    start of every task, and on Python >= 3.10 that makes every cached
    ``zipimporter`` re-read its archive's central directory: 12 finders on
    pyspark.zip (1,328 entries), 2 on the py4j zip and 2 on the spark-core
    jar (5,359 entries, no Python module), over 0.1 s of every task on 4
    vCPUs before any rlv code runs.  Dropping those finders from
    ``sys.path_importer_cache`` changes no import result: a later import
    rebuilds the finder from ``zipimport._zip_directory_cache`` without
    reading the archive again.  A user's ``addPyFile`` archive sits under
    SparkFiles' root directory, which Spark's Python path never lists, so
    it keeps PySpark's reload.  Call it on every task, not once per
    process: a first-time lazy import can rebuild a finder.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if getattr(finder, "archive", None) in archives:
            del cache[path]
