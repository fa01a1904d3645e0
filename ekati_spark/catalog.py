"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md / FIXTURES.md §B): region nation customer supplier
part orders lineitem events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

``load_table`` returns plain DataFrames (scans stay declarative so
Catalyst gets pushdown/pruning), one handle per session and table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ekati_spark.session import default_parallelism
from ekati_spark.session_store import get_or_build

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs every query depends on, applied idempotently —
    the driver builds its own SparkSession, so we can't rely on the session
    factory having run (verified failure mode: events' TIMESTAMP(NANOS)
    scan aborts without nanosAsLong)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # perf confs (also runtime-settable): a plain session defaults to 200
    # shuffle partitions — pure task overhead at test scale; AQE coalesce
    # right-sizes them upward-compatibly at real scale.
    n = default_parallelism()
    if int(spark.conf.get("spark.sql.shuffle.partitions")) > 4 * n:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the parquet
    stores it. Generated testdata has shipped both TIMESTAMP(NANOS) (read
    as long nanos under spark.sql.legacy.parquet.nanosAsLong) and
    timestamp[us] (read as timestamp_ntz) — branch on the observed dtype
    instead of assuming either:

    - bigint        → nanos; truncate to micros with integer division
                      (double division loses precision above 2^53 ns) —
                      the same truncation DuckDB applies to TIMESTAMP_NS.
    - timestamp_ntz → value-preserving cast (session timeZone is UTC).
    - timestamp     → already normalized.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype is not None and dtype != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # DataFrame handles are reusable within a session; re-calling
    # spark.read.parquet re-lists files and re-reads footers for schema
    # (~0.3 s/table), which multiplies across the many load_table calls
    # a single query makes.
    def build() -> DataFrame:
        ensure_session_confs(spark)
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        return normalize_events_ts(df) if name == "events" else df

    return get_or_build(spark, ("table", sf_dir, name), None, build)
