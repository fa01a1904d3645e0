"""Reliable-checkpoint mode (ekati_spark/checkpoint.py): the same
iterative kernels must produce identical results whether lineage is
cut with executor-local blocks (default) or with the reliable
``DataFrame.checkpoint`` path, and the reliable path must actually
write to the configured checkpoint directory (what survives executor
loss on a real cluster — the Spark analog of the reference's FASTER
snapshots, reference: src/serverlib/NodeAttrIndex.cs:66-85)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from ekati_spark.checkpoint import (
    MODE_KEY,
    cut_lineage,
    cut_lineage_lazy,
    disable_reliable_checkpoints,
    enable_reliable_checkpoints,
)
from ekati_spark.graph.algorithms import connected_components, page_rank
from ekati_spark.graph.traverse import Any, follow


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, "e", d, 0) for s, d in pairs],
        "src string, label string, dst string, ts long",
    )


@pytest.fixture
def reliable(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    enable_reliable_checkpoints(spark, ckdir)
    try:
        yield ckdir
    finally:
        disable_reliable_checkpoints(spark)


def test_pagerank_identical_under_reliable_checkpoint(spark, reliable):
    e = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")])
    rel = {r.node_id: r.rank for r in page_rank(e, iterations=3).collect()}
    disable_reliable_checkpoints(spark)
    loc = {r.node_id: r.rank for r in page_rank(e, iterations=3).collect()}
    assert rel == loc


def test_reliable_checkpoint_writes_to_dir(spark, reliable):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    cc = {r.node_id: r.component for r in connected_components(e).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # the reliable path must have materialized RDD state on disk
    found = []
    for root, _dirs, files in os.walk(reliable):
        found.extend(files)
    assert found, "reliable mode produced no checkpoint files"


def test_follow_identical_under_reliable_checkpoint(spark, reliable):
    e = _edges(
        spark,
        [("s", "a"), ("a", "b"), ("b", "t"), ("s", "x"), ("x", "t")],
    )
    seeds = spark.createDataFrame([("s",)], "node_id string")
    rel = sorted(
        r.node_id for r in follow(e, seeds, Any(1, 3)).collect()
    )
    disable_reliable_checkpoints(spark)
    loc = sorted(
        r.node_id for r in follow(e, seeds, Any(1, 3)).collect()
    )
    assert rel == loc
    assert spark.conf.get(MODE_KEY, "local") == "local"


def test_lazy_cut_runs_shuffle_stages_at_call_time(spark, job_ids):
    """Under AQE a lazy cut is not free: planning it materializes every
    shuffle stage below it, so it fires jobs at call time, only fewer
    than the eager cut (which also runs the final stage)."""

    def frame():
        base = spark.range(400).select((F.col("id") % 7).alias("k"), "id")
        per_key = base.groupBy("k").count()
        return base.join(per_key, "k").select("k", "id").distinct()

    _, eager = job_ids(lambda: cut_lineage(frame()))
    _, lazy = job_ids(lambda: cut_lineage_lazy(frame()))
    _, uncut = job_ids(frame)
    assert len(uncut) == 0
    assert 0 < len(lazy) < len(eager), (lazy, eager)


def test_aqe_reuses_no_broadcast_of_a_cached_frame(spark, job_ids):
    """Under AQE a cached frame read twice in one plan is not one shared
    broadcast: each read is its own TableCacheQueryStage, so two
    identical broadcasts of it both run and no ReusedExchange is
    planned. With AQE off, or over an uncached frame, one broadcast is
    reused. A served two_hop pays this once: the stream out of its
    first follow is broadcast as the next frontier and again as the
    visited set (checkpoint.py docstring)."""
    from ekati_spark.metrics import final_tree

    cached = spark.range(400).select((F.col("id") % 50).alias("k"), "id")
    cached = cached.persist()
    cached.count()
    uncached = spark.range(400).select((F.col("id") % 49).alias("k"), "id")
    probe = spark.range(300).select((F.col("id") % 70).alias("k"))

    def jobs_and_reuses(base, aqe):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        t = base.filter(F.col("id") < 100).select("k")
        df = probe.join(t, "k", "left_semi").join(t, "k", "left_anti")
        _, jobs = job_ids(df.collect)
        tree = final_tree(df._jdf.queryExecution().executedPlan().toString())
        return len(jobs), sum(n.startswith("ReusedExchange") for _, n in tree)

    try:
        assert jobs_and_reuses(cached, "true") == (3, 0)
        assert jobs_and_reuses(cached, "false") == (2, 1)
        assert jobs_and_reuses(uncached, "true") == (2, 1)
        assert jobs_and_reuses(uncached, "false") == (2, 1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        cached.unpersist()
