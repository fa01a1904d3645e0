"""Engine-telemetry surface: stage/executor/per-query metrics are real,
queryable, and move when work runs (SURVEY §2.1 row 10; the reference's
GetMetrics/GetStats RPCs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ekati_spark.metrics import (
    executor_metrics,
    query_metrics,
    run_with_metrics,
    stage_metrics,
)


def test_stage_counters_move_when_a_shuffle_runs(spark):
    # Attribute the delta to NEW stages only: the AppStatusStore retains
    # a bounded stage history, so a whole-store before/after sum can
    # DECREASE when old stages evict mid-test (observed in long suite
    # runs) — the eviction-proof check is shuffle bytes on stages that
    # did not exist before the job.
    last = (
        stage_metrics(spark).agg(F.max("stage_id").alias("m")).first().m
        or -1
    )
    spark.range(0, 200_000).groupBy((F.col("id") % 13).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    new_written = (
        stage_metrics(spark)
        .filter(F.col("stage_id") > last)
        .agg(F.sum("shuffle_write_bytes").alias("b"))
        .first()
        .b
        or 0
    )
    assert new_written > 0

    st = stage_metrics(spark)
    assert st.filter(F.col("num_complete_tasks") > 0).count() > 0
    assert st.filter(F.col("peak_execution_memory") > 0).count() > 0


def test_executor_metrics_present(spark):
    rows = executor_metrics(spark).collect()
    assert len(rows) >= 1
    assert any(r.total_tasks > 0 for r in rows)
    assert all(r.max_memory > 0 for r in rows)


def test_query_metrics_match_actual_output(spark):
    df = spark.range(0, 50_000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    n, qm = run_with_metrics(df)
    assert n == 7
    m = qm.collect()
    assert len(m) > 10
    # the final aggregate's numOutputRows equals the query's result size
    agg_rows = [
        r.value
        for r in m
        if r.node == "HashAggregate" and r.metric == "numOutputRows"
    ]
    assert n in agg_rows
    # the exchange reports shuffle bytes for a real shuffle
    assert any(
        r.metric == "shuffleBytesWritten" and r.value > 0 for r in m
    )
    # source rows are accounted
    assert any(
        r.node == "Range" and r.metric == "numOutputRows"
        and r.value == 50_000
        for r in m
    )


def test_query_metrics_unexecuted_plan_is_zero(spark):
    df = spark.range(0, 1000).groupBy((F.col("id") % 3).alias("k")).count()
    qm = query_metrics(df)  # not executed: metrics legitimately zero
    assert qm.filter(
        (F.col("metric") == "numOutputRows") & (F.col("value") > 0)
    ).count() == 0


def test_g28_contract(spark, sf_dir):
    from ekati_spark.queries import REGISTRY

    row = REGISTRY["g28_engine_metrics"].fn(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.probe_rows >= 1
    assert r.plan_has_metrics
    assert r.plan_counts_probe_rows
    assert r.shuffle_write_nonneg
    assert r.stage_counters_nonneg
    assert r.stages_ge1 and r.executors_ge1 and r.tasks_ge1


def test_observation_metrics_no_second_pass(spark, sf_dir):
    """Observation metrics arrive from the SAME action that produced
    the rows (no second scan) and match an independent aggregate."""
    from pyspark.sql import functions as F

    from ekati_spark.catalog import load_table
    from ekati_spark.metrics import run_with_observation

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    n, got = run_with_observation(
        li,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    expect = li.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    ).first()
    assert n == got["rows"] == expect["rows"]
    assert got["qty"] == expect["qty"]


def test_profile_splits_build_jobs_from_action_shuffle(spark):
    """A build that fires one eager job reports exactly that job; the
    groupBy shuffle after it is charged to the action, not the build."""
    from ekati_spark.metrics import profile

    def build():
        base = spark.range(0, 20_000).localCheckpoint(eager=True)
        return base.groupBy((F.col("id") % 11).alias("k")).count()

    rec = profile(spark, build, "checkpoint_then_groupby")
    assert rec["label"] == "checkpoint_then_groupby"
    assert rec["build_jobs"] == 1
    assert rec["build_shuffle_write_bytes"] == 0
    assert rec["build_shuffle_records"] == 0
    assert rec["action_jobs"] >= 1
    assert rec["action_shuffle_write_bytes"] > 0
    assert rec["action_shuffle_records"] > 0
    assert rec["exchanges"] == 1
    assert rec["build_s"] > 0 and rec["action_s"] > 0
    assert rec["top_stages"]
    assert {s["layer"] for s in rec["top_stages"]} <= {"build", "action"}
    assert rec["evicted_stages"] == 0


def test_back_to_back_profiles_count_the_same_jobs(spark):
    """No settling sleep between runs: the second profile's jobs are
    attributed as exactly as the first's."""
    from ekati_spark.metrics import profile

    def build():
        base = spark.range(0, 5_000).localCheckpoint(eager=True)
        return base.groupBy((F.col("id") % 3).alias("k")).count()

    a = profile(spark, build, "a")
    b = profile(spark, build, "b")
    keys = ("build_jobs", "action_jobs", "build_stages", "action_stages")
    assert [a[k] for k in keys] == [b[k] for k in keys]


def test_job_stages_skip_and_count_what_the_store_evicted(spark):
    """The status store keeps only the last ``spark.ui.retainedJobs``/
    ``retainedStages``, so a long session can ask for a job or stage it
    no longer holds: that one is skipped and counted, not raised."""
    from ekati_spark.metrics import _job_stages, _job_tag, _tagged_job_ids

    store = spark.sparkContext._jsc.sc().statusStore()
    with _job_tag(spark) as tag:
        spark.range(0, 1_000).groupBy(
            (F.col("id") % 5).alias("k")
        ).count().collect()
    ids = _tagged_job_ids(spark, tag)
    held, evicted = _job_stages(store, ids, set())
    assert held and evicted == 0

    class StagesEvicted:
        def job(self, jid):
            return store.job(jid)

        def lastStageAttempt(self, sid):
            return store.lastStageAttempt(-1)  # the store's own miss

    class JobsEvicted:
        def job(self, jid):
            return store.job(-1)

    stages, evicted = _job_stages(StagesEvicted(), ids, set())
    assert stages == [] and evicted >= len(held)
    assert _job_stages(JobsEvicted(), ids, set()) == ([], len(ids))


def test_plan_ops_counts_no_exchange_of_a_cached_build(spark):
    """A plan that reads a persisted groupBy frame runs none of the
    frame's build plan: its Exchange, printed under the
    InMemoryRelation, is not counted."""
    from ekati_spark.metrics import plan_ops

    cached = (
        spark.range(0, 1_000).groupBy((F.col("id") % 7).alias("k")).count()
    ).persist()
    try:
        cached.count()
        df = cached.filter(F.col("k") > 2).select("k")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan and "Exchange hashpartitioning" in plan
        assert plan_ops(plan)["exchanges"] == 0
        # a shuffle of the query's own still counts
        df = cached.groupBy("count").count()
        assert plan_ops(df._jdf.queryExecution().executedPlan().toString())[
            "exchanges"
        ] == 1
    finally:
        cached.unpersist()
