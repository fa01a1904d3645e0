"""The session's undirected co-purchase relation (``queries.graph.
_copurchase``, store slot ``copurchase``) and g43's HyperBall supersteps,
which join it without re-shuffling it."""

from __future__ import annotations

from pyspark import StorageLevel

from ekati_spark import session_store
from ekati_spark.metrics import final_tree
from ekati_spark.queries import REGISTRY
from ekati_spark.queries.graph import _copurchase

# nodes a shuffle Exchange may pass through and still shuffle the scan's rows
_NARROW = ("Project", "Filter", "ColumnarToRow", "TableCacheQueryStage")


def _g43(spark, sf_dir):
    return REGISTRY["g43_neighborhood_function"].fn(spark, sf_dir)


def _sql_plans(spark, job_ids) -> list[str]:
    """Final physical plans of the SQL executions that ran ``job_ids``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if any(ex.jobs().contains(j) for j in job_ids):
            out.append(ex.physicalPlanDescription())
    return out


def _shuffles_over_cache(plan: str) -> int:
    """Shuffle Exchanges whose input is an InMemoryTableScan, reached
    through projections and filters only."""
    rows, n = final_tree(plan), 0
    for i, (depth, node) in enumerate(rows):
        if not node.startswith("Exchange"):
            continue
        for d, child in rows[i + 1:]:
            if d <= depth:
                break
            depth = d
            if child.startswith("InMemoryTableScan"):
                n += 1
            if not child.lstrip("* ").startswith(_NARROW):
                break
    return n


def test_tree_parser_finds_a_shuffle_over_a_cached_scan():
    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   SortMergeJoin (8)
   :- Exchange (4)
   :  +- * Project (3)
   :     +- TableCacheQueryStage (2)
   :        +- InMemoryTableScan (1)
   :              +- InMemoryRelation (5)
   :                    +- Exchange (6)
   :                       +- Scan parquet (7)
   +- Exchange (10)
      +- * HashAggregate (11)
         +- InMemoryTableScan (12)
+- == Initial Plan ==
   Exchange (13)
   +- InMemoryTableScan (14)
"""
    assert _shuffles_over_cache(plan) == 1


def test_g43_supersteps_join_the_stored_relation(spark, sf_dir, job_ids):
    _g43(spark, sf_dir)  # fills the store
    df, build = job_ids(lambda: _g43(spark, sf_dir))
    _, action = job_ids(lambda: df.write.format("noop").mode("overwrite").save())
    assert len(build) <= 10 and len(action) <= 3, (build, action)

    # at scale the relation is too big to broadcast: a superstep's join
    # then must take the persisted partitioning on v as it is
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        _, build = job_ids(lambda: _g43(spark, sf_dir))
    finally:
        spark.conf.set(key, before)
    plans = _sql_plans(spark, build)
    steps = [p for p in plans if "InMemoryTableScan" in p]
    assert len(steps) == 3, len(plans)
    assert all("SortMergeJoin" in p for p in steps)
    assert [_shuffles_over_cache(p) for p in steps] == [0, 0, 0]


def test_copurchase_store_hit_and_eviction(spark, sf_dir):
    und1 = _copurchase(spark, sf_dir)
    hits = session_store.stats()["copurchase"]["hits"]
    assert _copurchase(spark, sf_dir) is und1
    assert session_store.stats()["copurchase"]["hits"] == hits + 1
    assert und1.storageLevel != StorageLevel.NONE

    # a new sf_dir replaces the session's one entry and unpersists the old
    und2 = _copurchase(spark, "/root/testdata/sf0.01")
    try:
        assert und1.storageLevel == StorageLevel.NONE
        assert und2.storageLevel != StorageLevel.NONE
    finally:
        # leave the suite's usual relation warm for whoever runs next
        _copurchase(spark, sf_dir)
    assert und2.storageLevel == StorageLevel.NONE
