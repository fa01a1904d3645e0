"""Ingest throughput benchmark — the reference's own headline metric.

Replicates the workload of the reference's `cli benchmark`
(``src/core/Program.fs:40-213``: batches of 2000 nodes, each carrying 5
string properties + 3 ``follows`` edges, seeded RNG) as a distributed
generate → long-format explode → parquet write, and reports
attribute-fragments/second — directly comparable to BASELINE.md's
129,038 fragments/s (`src/report/report-example.json`,
``FileStore.AddFragmentsMeter``).

Everything is deterministic (hash-derived values, no RNG) and stays in
whole-stage codegen. The timed write is the served graph's layout
write, ``graph/storage.py::write_bucketed_props`` (64 buckets): one
shuffle on the node_id bucket, a per-bucket sort on ``node_id`` and a
Hive-partitioned parquet write of the long-format props rows.

Usage: python tools/ingest_bench.py [n_nodes] [out_dir]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


FRAGMENTS_PER_NODE = 8  # 5 string props + 3 follows edges


def generate_props(spark, n_nodes: int):
    """Long-format props rows for n_nodes synthetic nodes (8 rows each),
    mirroring the reference's benchmark node shape."""
    nodes = spark.range(n_nodes).select(
        F.concat(F.lit("bench:"), F.col("id").cast("string")).alias("node_id"),
        F.col("id"),
    )
    props = [
        F.struct(
            F.lit(f"prop{i}").alias("key"),
            F.lit("str").alias("dtype"),
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f"#{i}"))).alias(
                "str"
            ),
            F.lit(None).cast("string").alias("ref"),
        )
        for i in range(5)
    ]
    edges = [
        F.struct(
            F.lit("follows").alias("key"),
            F.lit("ref").alias("dtype"),
            F.lit(None).cast("string").alias("str"),
            F.concat(
                F.lit("bench:"),
                F.pmod(
                    F.xxhash64(F.col("id").cast("string"), F.lit(i)),
                    F.lit(n_nodes),
                ).cast("string"),
            ).alias("ref"),
        )
        for i in range(3)
    ]
    return nodes.select(
        "node_id", F.explode(F.array(*props, *edges)).alias("a")
    ).select(
        "node_id",
        F.lit("").alias("remote"),
        F.col("a.key").alias("key"),
        F.lit(0).cast("long").alias("ts"),
        F.col("a.dtype").alias("dtype"),
        F.col("a.str").alias("str"),
        F.lit(None).cast("long").alias("i64"),
        F.lit(None).cast("double").alias("dbl"),
        F.lit(None).cast("boolean").alias("bool"),
        F.col("a.ref").alias("ref"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("string").alias("meta_type"),
        F.lit(None).cast("string").alias("meta_lang"),
    )


def run(spark, n_nodes: int, out_dir: str) -> dict:
    from ekati_spark.graph.storage import write_bucketed_props

    df = generate_props(spark, n_nodes)
    t0 = time.perf_counter()
    write_bucketed_props(df, out_dir)
    wall = time.perf_counter() - t0
    frags = n_nodes * FRAGMENTS_PER_NODE
    return {
        "n_nodes": n_nodes,
        "fragments": frags,
        "wall_s": round(wall, 3),
        "fragments_per_s": round(frags / wall),
    }


def main() -> None:
    import json
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ekati_spark.session import get_spark

    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else None
    tmp = None
    if out is None:
        tmp = tempfile.mkdtemp(prefix="ekati_ingest_")
        out = tmp
    spark = get_spark("ekati_ingest_bench")
    # warm the write path once so the measurement is throughput, not JVM
    # startup (the reference also measures a steady 90 s window)
    run(spark, 10_000, out + "/warm")
    result = run(spark, n_nodes, out + "/main")
    print(json.dumps(result))
    if tmp:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
