"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: all cores);
the config below is chosen so the same code path scales to a real
multi-executor cluster: AQE on (runtime coalesce + skew-join handling),
shuffle partitions and a bounded fetch's first wave sized to the
parallelism, Arrow enabled for the Pandas-UDF operators, UTC session
timezone so results compare exactly against the DuckDB oracle (DuckDB
timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "ekati_spark", cores: int | None = None) -> SparkSession:
    """Build (or reuse) the session with scale-aware defaults."""
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        # a bounded fetch (take/first/limit().collect()) scans one wave
        # of n tasks in its first job, not one partition and then more
        # jobs: a served result on n partitions is one job, not 2-4
        .config("spark.sql.limit.initialNumPartitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode: the driver JVM IS the executor — 8g starved the
        # 32 concurrent tasks (sf10 stress: AGGREGATE_OUT_OF_MEMORY in
        # the first 60M-key hash agg at ~150 MB/task); 32g on the
        # 128 GiB box gives each task the ~600 MB a real executor would
        # have. On a cluster this conf is per-executor sizing instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); read as long, the catalog
        # converts to microsecond timestamps (matching DuckDB's truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
