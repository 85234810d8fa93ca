"""SparkSession factory.

One place to configure the engine's Spark runtime. Defaults are tuned
for the test harness (single-JVM ``local[N]``) but every setting is
chosen so the same code is correct on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch) — at 100 TB the static plan is always wrong
  somewhere; AQE fixes it from runtime stats.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this should be ~2-3× total cores (or left to AQE
  initialPartitionNum). Overridable via env.
- Session timezone pinned UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled for any pandas interchange (fast path for the few
  Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the host's physical RAM."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 >> 20}m"


def get_spark(
    app_name: str = "bdmrcs-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Shuffle keys and partition sizing are the two levers that decide
    whether a plan survives a 100× scale-up; everything here is a
    default, and operators that know better (e.g. LSH band joins)
    repartition explicitly.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS) which
        # Spark has no native type for; read the raw int64 and let
        # sources.io convert to a micros timestamp (matching DuckDB's
        # ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs every task thread inside the driver JVM, so
        # the driver heap IS the executor memory. A fixed size either
        # over-commits a small host or starves a large one; half the
        # physical RAM leaves the rest to the Python workers, Arrow
        # buffers and the OS. On a real cluster this setting is
        # irrelevant — executors get their own spark.executor.memory.
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
