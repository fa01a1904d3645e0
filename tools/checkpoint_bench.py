"""Measure the reliable-checkpoint tax on iterative kernels.

``ekati_spark/checkpoint.py`` gives every driver-side loop a
session-level lineage-cut mode: ``local`` (localCheckpoint — executor
block storage, not fault-tolerant) vs ``reliable`` (checkpoint — one
distributed-FS write of the O(|V|) round state per iteration, survives
executor loss; the Spark analog of the reference's FASTER durable
snapshots, reference: src/serverlib/NodeAttrIndex.cs:66-85). This tool
puts a NUMBER on that insurance so the 100-TB rule of thumb in
SCALE.md ("cheap once executor-loss-per-job is non-trivial") carries a
measured cost: PageRank (10 supersteps) and a 3-hop any-edge follow at
the given SF, each run under both modes, median of 3.

On local[] the "reliable" directory is local disk — a lower bound on
the real HDFS/S3 round-trip, but the right shape: the delta is the
per-round state serialization + FS write the cluster would pay.

Usage: python tools/checkpoint_bench.py [sf_dir] [iters]
Prints one JSON line: per-mode medians + per-round overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from ekati_spark.checkpoint import (
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
    )
    from ekati_spark.graph.algorithms import page_rank
    from ekati_spark.graph.traverse import Any, follow
    from ekati_spark.queries.graph import _graph
    from ekati_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("ekati_checkpoint_bench")
    g = _graph(spark, sf_dir)
    g.edges.count()  # materialize the persisted edge table once
    seeds = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") <= 3)
        .select(
            F.concat(
                F.lit("customer:"), F.col("c_custkey").cast("string")
            ).alias("node_id")
        )
    )

    kernels = {
        "pagerank": lambda: page_rank(g.edges, iterations=iters).count(),
        "follow_any_3hop": lambda: follow(
            g.edges, seeds, Any(1, 3)
        ).count(),
    }
    ckpt_dir = tempfile.mkdtemp(prefix="ekati_ckpt_bench_")
    out: dict[str, dict] = {}
    try:
        for kname, run in kernels.items():
            out[kname] = {}
            for mode in ("local", "reliable"):
                if mode == "reliable":
                    enable_reliable_checkpoints(spark, ckpt_dir)
                else:
                    disable_reliable_checkpoints(spark)
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    run()
                    runs.append(time.perf_counter() - t0)
                out[kname][f"{mode}_s"] = round(sorted(runs)[1], 3)
                print(
                    f"# {kname} {mode}: {out[kname][f'{mode}_s']}s "
                    f"of {[round(r, 3) for r in runs]}",
                    file=sys.stderr,
                )
            n_rounds = iters if kname == "pagerank" else 3
            out[kname]["overhead_per_round_s"] = round(
                (out[kname]["reliable_s"] - out[kname]["local_s"])
                / n_rounds,
                3,
            )
    finally:
        disable_reliable_checkpoints(spark)
        shutil.rmtree(ckpt_dir, ignore_errors=True)

    print(
        json.dumps(
            {"metric": "reliable_checkpoint_tax", "sf_dir": sf_dir,
             "pagerank_iters": iters, "kernels": out}
        )
    )


if __name__ == "__main__":
    main()
