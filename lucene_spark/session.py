"""SparkSession factory with the engine's required configs.

Arrow execution is mandatory (every UDF in this engine is pandas/Arrow
vectorized); AQE stays on for runtime coalescing + skew handling of the
stats shuffles. ``shuffle.partitions`` defaults to the core count — posting
builds size their own partitioning explicitly (one partition per segment).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_AQE_LOCK = threading.Lock()
_AQE_OFF: dict = {}  # id(spark) -> (callers inside no_aqe, saved setting)


@contextmanager
def no_aqe(spark):
    """Disable AQE for a latency-sensitive query execution.

    Serving-path query plans are hand-sized (per-segment fan-out, top-k
    reduce), so AQE's stage-by-stage materialization only adds scheduler
    rounds — measured: 2 jobs → 1 job and ~-30% latency per query at sf0.1.
    Build/maintenance paths keep AQE (runtime coalescing + skew handling of
    the stats/merge shuffles matters at 10^12 rows). Session-scoped config:
    concurrent callers share one flip — the first one in saves the setting,
    the last one out restores it."""
    conf, key = spark.conf, id(spark)
    with _AQE_LOCK:
        n, prev = _AQE_OFF.get(key, (0, None))
        if n == 0:
            try:
                prev = conf.get("spark.sql.adaptive.enabled")
            except Exception:
                prev = "true"
            conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_OFF[key] = (n + 1, prev)
    try:
        yield
    finally:
        with _AQE_LOCK:
            n, prev = _AQE_OFF.pop(key)
            if n > 1:
                _AQE_OFF[key] = (n - 1, prev)
            else:
                conf.set("spark.sql.adaptive.enabled", prev)


def get_spark(cores: int | str = "*", app: str = "lucene_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    # Keep glibc from mmap/munmap-cycling the multi-MB numpy scratch arrays
    # the Arrow workers allocate per batch: at 32 concurrent workers the
    # munmap TLB shootdowns serialize the whole box (measured 6-9x slowdown
    # of the invert kernels). Retained heap memory makes every call after the
    # first reuse warm pages. Workers inherit the env from the JVM (set
    # before the gateway starts) — on a real cluster ship the same via
    # spark.executorEnv.* .
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    # numpy madvise(MADV_HUGEPAGE)s every >=4MB buffer; under 32 concurrent
    # workers that turns page faults into 2MB-folio zeroing + compaction
    # storms (observed: 95% system time, folio_zero_user in every stack).
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    # Route Arrow batch buffers through glibc (retained heap) instead of
    # jemalloc, whose MADV_FREE purging un-backs pages that this VM then
    # refaults at ~67µs each.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    master = f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    elif cores != "*":
        b = b.config("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    else:
        b = b.config("spark.sql.shuffle.partitions", "32")
    return b.getOrCreate()
