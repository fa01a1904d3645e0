"""The session's undirected co-purchase relation (``queries.graph.
_copurchase``, store slot ``copurchase``) and g43's HyperBall supersteps,
which join it without re-shuffling it."""

from __future__ import annotations

from pyspark import StorageLevel

from ekati_spark import session_store
from ekati_spark.metrics import final_tree
from ekati_spark.queries import REGISTRY
from ekati_spark.queries.graph import _copurchase

# nodes an operator's input may pass through and still be the scan's rows
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


def _inputs(rows, i) -> list[str]:
    """The first node down each input of node ``i`` of a ``final_tree``
    that is not a projection, filter or stage wrapper."""
    out, first = [], None
    for j in range(i + 1, len(rows)):
        if rows[j][0] <= rows[i][0]:
            break
        first = first or rows[j][0]
        if rows[j][0] != first:
            continue
        while (rows[j][1].lstrip("* ").startswith(_NARROW)
               and j + 1 < len(rows) and rows[j + 1][0] > rows[j][0]):
            j += 1
        out.append(rows[j][1])
    return out


def _over_cache(plan: str, op: str) -> int:
    """Nodes whose name contains ``op`` (``Exchange``, ``Join``) with an
    InMemoryTableScan input, reached through projections and filters
    only."""
    rows = final_tree(plan)
    return sum(
        1 for i, (_, node) in enumerate(rows)
        if op in node.lstrip("* ").split(" ")[0]
        and any(c.startswith("InMemoryTableScan") for c in _inputs(rows, i))
    )


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
    assert _over_cache(plan, "Exchange") == 1
    assert _over_cache(plan, "Join") == 0

    plan = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- == Final Plan ==
   * HashAggregate (5)
   +- * ShuffledHashJoin Inner BuildRight (4)
      :- ShuffleQueryStage (3)
      :  +- Exchange (2)
      :     +- * Range (1)
      +- TableCacheQueryStage (7)
         +- InMemoryTableScan (8)
"""
    assert _over_cache(plan, "Join") == 1
    assert _over_cache(plan, "Exchange") == 0


def test_g43_supersteps_join_the_stored_relation(spark, sf_dir, job_ids):
    _g43(spark, sf_dir)  # fills the store
    df, build = job_ids(lambda: _g43(spark, sf_dir))
    _, action = job_ids(lambda: df.write.format("noop").mode("overwrite").save())
    assert len(build) == 0 and len(action) <= 5, (build, action)

    # at scale the relation is too big to broadcast: each superstep's
    # join then must take the persisted partitioning on v as it is. The
    # state is read once per superstep, so the plan holds one join per
    # superstep (reading it twice would double the tree: 1 + 2 + 4)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = _g43(spark, sf_dir)
        _, action = job_ids(
            lambda: df.write.format("noop").mode("overwrite").save()
        )
    finally:
        spark.conf.set(key, before)
    [plan] = _sql_plans(spark, action)
    assert _over_cache(plan, "Join") == 3, plan
    assert _over_cache(plan, "Exchange") == 0, plan
    assert "ExistingRDD" not in plan  # no lineage cut


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
