"""SparkSession factory with the scale-oriented defaults used everywhere.

One place to set the knobs the north rule requires to be explicit:
shuffle-partition sizing, AQE (+ skew-join splitting), Arrow batching for
the pandas-UDF scorer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tune_malloc_env() -> None:
    """glibc malloc tuning inherited by the JVM and its Python UDF workers
    (must run before the JVM starts).  The numpy kernels allocate MB-sized
    temporaries per Arrow batch; default thresholds hand those straight to
    mmap/munmap, and at 32 concurrent workers the resulting page-fault storm
    shows up as ~70% system time.  Keeping big allocations on the heap
    (high mmap/trim thresholds) removes it."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")


def get_spark(
    app_name: str = "name-matching-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 20_000,
    extra_conf: dict | None = None,
) -> SparkSession:
    _tune_malloc_env()
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        # Default: 2x the parallelism hint in local[N]; a real cluster sets
        # this explicitly (target ~128MB/partition at the expected shuffle volume).
        n = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            n = int(master[6:-1])
        shuffle_partitions = max(2 * n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
