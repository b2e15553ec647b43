"""SparkSession factory with the engine's tuned defaults.

Local mode stands in for the multi-executor cluster: ``local[N]`` = one JVM, N
executor threads.  The same configs apply cluster-side via spark-submit --conf.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Linux caps a Unix socket path (sun_path) at 107 bytes, and Spark names
# each socket ``<dir>/.<uuid4>.sock``: the directory plus 43 bytes.  Spark
# also fails every Python task when spark.python.unix.domain.socket.dir is
# set to a path longer than 61 characters.
_SOCKET_PATH_MAX = 107
_SOCKET_NAME_LEN = 43
_SOCKET_DIR_MAX = 61
_SOCKET_DIR_PREFIX = "rlv-sock-"


@functools.cache
def _socket_dir() -> str | None:
    """This process's private directory for Spark's Unix sockets, created
    under ``tempfile.gettempdir()`` when it fits both limits above, else
    under ``/tmp``, and removed when the process exits.  ``None`` when no
    such directory fits."""
    # mkdtemp appends 8 characters to the prefix
    dir_len = 1 + len(_SOCKET_DIR_PREFIX) + 8
    for base in (tempfile.gettempdir(), "/tmp"):
        if (len(base) + dir_len > _SOCKET_DIR_MAX
                or len(os.fsencode(base)) + dir_len + _SOCKET_NAME_LEN
                > _SOCKET_PATH_MAX):
            continue
        try:
            sock_dir = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
        except OSError:
            continue
        atexit.register(shutil.rmtree, sock_dir, True)
        return sock_dir
    return None


def python_socket_confs() -> dict[str, str]:
    """Spark confs that connect the Python workers, and the driver's local
    ``createDataFrame``/``collect`` sockets, over Unix domain sockets in a
    private directory short enough for Linux and for Spark.  A loopback TCP
    connection costs every Python task a ~40 ms wait for its first input
    batch (BASELINE.md "Python task launch: Unix sockets and the spark-core
    jar").  Empty, so Spark keeps TCP, when no directory fits.

    Call it before the ``SparkContext`` starts: the directory is removed at
    exit, after the JVM that PySpark launches (exit handlers run in reverse
    order of registration)."""
    sock_dir = _socket_dir()
    if sock_dir is None:
        return {}
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": sock_dir}


def make_session(
    cpus: int,
    app: str = "rlv",
    shuffle_partitions: int | None = None,
    driver_mem: str = "48g",
) -> SparkSession:
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long token arrays: keep Arrow batches big enough to amortize the
        # Python-side per-batch fixed costs, small enough to fit worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config(map=python_socket_confs())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
