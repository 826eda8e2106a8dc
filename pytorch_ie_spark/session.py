"""SparkSession factory with scale-oriented defaults.

Local mode is the sandbox proxy for a multi-executor cluster; every config
here is chosen to also be the right default on a 1000-executor cluster
reading 100 TB (AQE on, adaptive coalescing, Arrow for all pandas UDF
boundaries, sane shuffle partition count).

PySpark's DataFrame origin capture is off
(`spark.python.sql.dataFrameDebugging.enabled=false`). With it on, every
`pyspark.sql.functions` call and Column operator made while a plan is
built costs several extra JVM round trips (the active session, a conf read,
setting and clearing the JVM's current origin) and an inspection of the
Python stack. What an error message loses is the Python file and line in
its `== DataFrame ==` context: an ANSI division by zero then says
`"divide" was called from` a JVM reflection frame instead of
`"__truediv__" was called from` the line that built the expression. The
error class and message are unchanged. Pass
`extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}` to
get the Python call site back.

The driver heap defaults to half the machine's physical memory in whole
GB, between 1g and 48g (`default_driver_memory`);
`SPARK_GRAFT_DRIVER_MEM` or `extra_conf` override it.

The session's Python worker daemon is this module run as `__main__` (see
the bottom of the file): it keeps a reused worker from re-reading
PySpark's unchanged zip archives on every task, and from delaying the
ACKs of a task's first input.
"""

from __future__ import annotations

import os
import socket
import zipimport

import pyspark.errors.utils
from pyspark.sql import SparkSession

# At cluster scale shuffle partitions should track total cores (2-3x);
# locally we match the local[N] thread count to avoid tiny-partition overhead.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the directory that holds the package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Half of `physical_bytes` (default: this machine's RAM) in whole GB,
    at least 1g and at most 48g. In local mode the driver JVM also runs the
    tasks, and the Python workers and the OS need the other half: a heap
    larger than the machine ends in the kernel killing the JVM, not in a
    Spark error."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, physical_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "pytorch_ie_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # the worker daemon is this module, so the package must import on the
    # workers whatever their working directory
    extra_conf = dict(extra_conf or {})
    worker_path = [ROOT] + extra_conf.pop("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", __spec__.name)
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(dict.fromkeys(filter(None, worker_path))))
        # deterministic float handling for correctness comparisons
        .config("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # PySpark reads the debugging conf once per process, and a `functions`
    # call made before any session existed has already cached it as off
    pyspark.errors.utils._enable_debugging_cache = None
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _archive_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def skip_unchanged_zip_rereads() -> None:
    """Make `zipimporter.invalidate_caches()` re-read an archive only when
    its (mtime, size) changed since this process last read it.

    A Python worker calls `importlib.invalidate_caches()` before every
    task (`pyspark.worker_util.setup_spark_files`), so that files added
    with `addPyFile` become importable. On CPython 3.11 that re-parses the
    central directory of every archive on `sys.path` for each of its
    importers: pyspark.zip and the Spark jars, ~80 ms a task, though
    they never change. Directory importers (`FileFinder`) are still
    invalidated as before. An importer whose archive another importer
    already re-read takes the shared directory cache, as a new importer
    does."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "skips_unchanged", False):
        return
    read_at: dict[str, tuple[int, int] | None] = {}  # archive -> its stat when read

    def invalidate_caches(self):
        stat = _archive_stat(self.archive)
        if stat is None or read_at.get(self.archive) != stat:
            reread(self)
            read_at[self.archive] = stat
        else:
            self._files = zipimport._zip_directory_cache.get(self.archive, {})

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def ack_task_input_at_once() -> None:
    """Make each task of a worker first set TCP_QUICKACK on its socket.

    A reused worker otherwise delays the ACK of the task's first segments
    (by ~40 ms on Linux), and the JVM, which waits for that ACK before it
    sends the rest (Nagle), stalls the task's first input batch for as
    long. The kernel leaves quick-ACK mode again on its own, so the flag
    is set anew per task: the daemon's per-task entry point,
    `pyspark.daemon.worker`, is wrapped. A Unix domain socket has no ACKs
    and is left alone, and so is a platform without the option."""
    import pyspark.daemon

    task = pyspark.daemon.worker
    quickack = getattr(socket, "TCP_QUICKACK", None)
    if quickack is None or getattr(task, "acks_at_once", False):
        return

    def worker(sock, authenticated):
        if sock.family != socket.AF_UNIX:
            sock.setsockopt(socket.IPPROTO_TCP, quickack, 1)
        return task(sock, authenticated)

    worker.acks_at_once = True
    pyspark.daemon.worker = worker


if __name__ == "__main__":
    # `spark.python.daemon.module`: the stock daemon with the patches above
    # installed before it forks any worker
    skip_unchanged_zip_rereads()
    ack_task_input_at_once()
    from pyspark.daemon import manager

    manager()
