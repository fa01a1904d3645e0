"""Queryable engine-telemetry surface (the reference's Metrics/Stats API
re-expressed Spark-natively).

The reference exposes an App.Metrics registry over RPC — process gauges
plus per-component meters/timers (GetMetrics/GetStats/ListStats,
/root/reference/src/core/Metrics.fs:1-357, types.proto:235-238). Spark
already *collects* the equivalent telemetry (task, shuffle, spill, and
memory counters in the AppStatusStore; per-operator SQLMetrics on every
executed plan); this module makes it queryable as DataFrames so a user
can join, filter, and aggregate engine counters like any other table:

- ``stage_metrics``     one row per stage: task counts, run time, I/O,
                        shuffle read/write, spill, peak execution memory
                        (the FileStore/Partition meter-timer analog)
- ``executor_metrics``  one row per executor: the process-gauge analog
                        (memory used, task totals, shuffle totals)
- ``query_metrics``     one row per (plan node, SQLMetric) of a single
                        executed DataFrame — per-QUERY telemetry the
                        reference only had per-process
- ``profile``           one query run's layer record: build and action
                        wall time and Spark jobs, each layer's stage
                        totals, and the plan's operator counts
- ``tagged_jobs``       the Spark jobs one call fired

Scale note: these read driver-side control-plane state (status store /
plan tree), never executor data; result sizes are O(stages), O(execs),
O(plan nodes). ``createDataFrame`` over them is control-plane work by
construction. On a 1000-executor cluster the same calls serve the
cluster-wide registry view the Spark UI renders.
"""

from __future__ import annotations

import re
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

STAGE_SCHEMA = (
    "stage_id int, attempt int, name string, status string, "
    "num_tasks int, num_complete_tasks int, executor_run_time_ms long, "
    "executor_cpu_time_ms long, "
    "input_bytes long, input_records long, "
    "shuffle_read_bytes long, shuffle_read_records long, "
    "shuffle_write_bytes long, shuffle_write_records long, "
    "memory_spilled_bytes long, disk_spilled_bytes long, "
    "peak_execution_memory long"
)
_STAGE_COLS = [c.split()[0] for c in STAGE_SCHEMA.split(", ")]

EXECUTOR_SCHEMA = (
    "executor_id string, is_active boolean, total_cores int, "
    "total_tasks int, failed_tasks int, total_duration_ms long, "
    "total_input_bytes long, total_shuffle_read long, "
    "total_shuffle_write long, memory_used long, max_memory long"
)

QUERY_METRIC_SCHEMA = "node_id long, node string, metric string, value long"

# Generous row ceiling for control-plane probes executed driver-side
# (run_with_metrics / run_with_observation): far above any telemetry
# probe's result, far below a data-plane frame at 100 TB.
CONTROL_PLANE_BOUND = 1_000_000


def _stage_row(s) -> tuple:
    """One status-store ``StageData`` as a ``STAGE_SCHEMA`` row."""
    return (
        s.stageId(),
        s.attemptId(),
        s.name(),
        str(s.status()),
        s.numTasks(),
        s.numCompleteTasks(),
        s.executorRunTime(),
        s.executorCpuTime() // 1_000_000,
        s.inputBytes(),
        s.inputRecords(),
        s.shuffleReadBytes(),
        s.shuffleReadRecords(),
        s.shuffleWriteBytes(),
        s.shuffleWriteRecords(),
        s.memoryBytesSpilled(),
        s.diskBytesSpilled(),
        s.peakExecutionMemory(),
    )


def stage_metrics(spark: SparkSession) -> DataFrame:
    """All stages the engine has run this session, as a DataFrame.

    Reads AppStatusStore.stageList (the store behind the Spark UI and
    the /api/v1/stages REST endpoint) via the JVM gateway; the
    ``$default$`` accessors supply the Scala default arguments, so the
    call tracks the method's real signature."""
    store = spark.sparkContext._jsc.sc().statusStore()
    defaults = [
        getattr(store, f"stageList$default${i}")() for i in range(2, 6)
    ]
    empty = spark.sparkContext._jvm.java.util.ArrayList()
    stages = store.stageList(empty, *defaults)
    rows = [_stage_row(stages.apply(i)) for i in range(stages.size())]
    return spark.createDataFrame(rows, STAGE_SCHEMA)


def executor_metrics(spark: SparkSession) -> DataFrame:
    """One row per executor (driver included in local mode) — the
    process-gauge analog of the reference's Process context."""
    store = spark.sparkContext._jsc.sc().statusStore()
    ex = store.executorList(False)
    rows = []
    for i in range(ex.size()):
        e = ex.apply(i)
        rows.append(
            (
                e.id(),
                e.isActive(),
                e.totalCores(),
                e.totalTasks(),
                e.failedTasks(),
                e.totalDuration(),
                e.totalInputBytes(),
                e.totalShuffleRead(),
                e.totalShuffleWrite(),
                e.memoryUsed(),
                e.maxMemory(),
            )
        )
    return spark.createDataFrame(rows, EXECUTOR_SCHEMA)


def _walk_plan(node, out: list) -> list:
    cls = node.getClass().getSimpleName()
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out.append((node.id(), node.nodeName(), kv._1(), kv._2().value()))
    # AQE wraps the physical tree in query stages whose subtrees are not
    # children(): descend explicitly (executedPlan / plan), same shape
    # the Spark UI's SQL tab renders
    if cls == "AdaptiveSparkPlanExec":
        _walk_plan(node.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk_plan(node.plan(), out)
    ch = node.children()
    for i in range(ch.size()):
        _walk_plan(ch.apply(i), out)
    return out


def query_metrics(df: DataFrame) -> DataFrame:
    """Per-plan-node SQLMetrics of ``df``'s (already executed) physical
    plan: (node_id, node, metric, value) rows — per-query telemetry
    (rows produced, shuffle bytes, spill, peak memory, codegen pipeline
    time) addressable by operator. Execute the DataFrame first; metrics
    on an unexecuted plan are legitimately zero."""
    spark = df.sparkSession
    rows = _walk_plan(df._jdf.queryExecution().executedPlan(), [])
    return spark.createDataFrame(rows, QUERY_METRIC_SCHEMA)


def run_with_metrics(df: DataFrame) -> tuple[int, DataFrame]:
    """Execute ``df`` to completion and return (row_count, its
    per-operator metrics frame).

    Executes ``df``'s own plan deliberately: ``df.count()`` builds a
    SEPARATE query execution (an added aggregate), leaving the walked
    plan's SQLMetrics at zero. Meant for control-plane probes whose
    results are small — the bound is executable
    (``driverside.count_bounded_exec`` streams the result and fails
    loudly past ``CONTROL_PLANE_BOUND`` rows instead of materializing
    it); for a large result, write it to a sink and call
    ``query_metrics(df)`` on the same DataFrame afterwards."""
    from ekati_spark.driverside import count_bounded_exec

    n = count_bounded_exec(df, CONTROL_PLANE_BOUND, "run_with_metrics")
    return n, query_metrics(df)


def run_with_observation(df, *metric_cols, name: str = "obs"):
    """Execute ``df`` with an attached Observation (Spark's
    zero-extra-pass accumulator channel: metric expressions evaluate
    inline DURING the action, unlike a separate .agg() job) and return
    (row_count, observed-metrics dict). The per-query counterpart of
    the AppStatusStore surfaces above — use it when a pipeline wants
    its own domain metrics (rows kept, bytes after filter, null count)
    without a second scan at 100 TB.

    ``metric_cols`` are aggregate Columns, e.g.
    ``F.count(F.lit(1)).alias("rows"), F.sum("value").alias("total")``.

    Driver-side contract: the action is ``count()`` — the observe node
    rides the SAME plan (unlike ``run_with_metrics``' SQLMetrics walk,
    an Observation doesn't care which action drives the execution, but
    it DOES need one single completed action to resolve its listener
    event — a streamed ``toLocalIterator`` never fires it), so the
    observed metrics cover every row while the driver materializes one
    scalar, at any result size."""
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *metric_cols)
    n = out.count()
    return n, obs.get


# -- per-run profiling -------------------------------------------------------

# Physical operators a plan summary counts, by key: a pattern matched
# against each node of the plan's final tree (``final_tree``).
# ``exchanges`` counts shuffle Exchange operators: broadcasts and reused
# exchanges are not shuffles of their own.
PLAN_OPS = {
    "exchanges": r"^Exchange ",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
}

# Stages listed per run in ``profile``'s ``top_stages``.
TOP_STAGES = 5


def final_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node) per node of a physical plan's tree, from its tree
    string (``executedPlan().toString()``) or its formatted description
    (``explain("formatted")``, whose node details follow the first blank
    line). Left out: header lines, AQE's initial plan, and the subtree
    under each ``InMemoryRelation`` -- the plan that built a persisted
    frame, which a read of the frame does not run."""
    rows, skip = [], None
    for line in plan.split("\n\n")[0].splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip is not None and depth > skip:
            continue
        if node.startswith("== Initial Plan =="):  # the tree's last branch
            break
        skip = depth if node.startswith("InMemoryRelation") else None
        if not node.startswith("=="):
            rows.append((depth, node))
    return rows


def plan_ops(plan: str) -> dict[str, int]:
    """``PLAN_OPS`` counts of a physical plan's final tree."""
    nodes = [node for _, node in final_tree(plan)]
    return {
        k: sum(1 for node in nodes if re.search(pat, node))
        for k, pat in PLAN_OPS.items()
    }


@contextmanager
def _job_tag(spark: SparkSession):
    """Tag every Spark job submitted inside the block from this thread
    (and from threads it starts) with a fresh job tag; yields the tag."""
    sc = spark.sparkContext
    tag = f"ekati-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def _tagged_job_ids(spark: SparkSession, tag: str) -> list[int]:
    """Ids of the jobs carrying ``tag``. Job events reach the status
    store through the listener bus, so the bus is drained first; the
    tracker then filters the store's job list by ``jobTags``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForTag(tag))


def tagged_jobs(spark: SparkSession, fn) -> tuple[object, list[int]]:
    """``(fn(), ids of the Spark jobs fn fired)``."""
    with _job_tag(spark) as tag:
        out = fn()
    return out, _tagged_job_ids(spark, tag)


def _date_ms(opt) -> int:
    """Scala ``Option[java.util.Date]`` as epoch ms (0 when empty)."""
    return int(opt.get().getTime()) if opt.isDefined() else 0


def _held(read, key):
    """``read(key)`` from the status store, or None once the store has
    evicted that job or stage: it keeps the last
    ``spark.ui.retainedJobs``/``retainedStages`` only."""
    try:
        return read(key)
    except Py4JJavaError as err:
        name = err.java_exception.getClass().getName()
        if name != "java.util.NoSuchElementException":
            raise
        return None


def _job_stages(store, job_ids: list[int], seen: set) -> tuple[list, int]:
    """``(records, evicted)``: the ``STAGE_SCHEMA`` records of the
    stages these jobs ran, and how many the store had already evicted.
    A stage a job lists but did not run is left out: one it skipped,
    one an earlier job ran (its shuffle output reused), one in
    ``seen``. An evicted job counts once (its stage list went with it),
    an evicted stage once."""
    out, evicted = [], 0
    for jid in job_ids:
        job = _held(store.job, jid)
        if job is None:
            evicted += 1
            continue
        submitted = _date_ms(job.submissionTime())
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            s = _held(store.lastStageAttempt, sid)
            if s is None:
                evicted += 1
                continue
            # a skipped stage has no submission time of its own
            if _date_ms(s.submissionTime()) < submitted:
                continue
            seen.add(sid)
            out.append(dict(zip(_STAGE_COLS, _stage_row(s))))
    return out, evicted


def _stage_totals(stages: list[dict]) -> dict:
    def total(*cols):
        return sum(s[c] for s in stages for c in cols)

    return {
        "stages": len(stages),
        "tasks": total("num_complete_tasks"),
        "executor_run_ms": total("executor_run_time_ms"),
        "executor_cpu_ms": total("executor_cpu_time_ms"),
        "input_bytes": total("input_bytes"),
        "shuffle_read_bytes": total("shuffle_read_bytes"),
        "shuffle_write_bytes": total("shuffle_write_bytes"),
        "shuffle_records": total("shuffle_write_records"),
        "spill_bytes": total("memory_spilled_bytes", "disk_spilled_bytes"),
        "peak_exec_mem_bytes": max(
            (s["peak_execution_memory"] for s in stages), default=0
        ),
    }


def profile(spark: SparkSession, build, label: str) -> dict:
    """Run one query and return its layer record, one flat dict.

    ``build()`` constructs the query's DataFrame, firing whatever eager
    jobs the construction needs (checkpoints, counts, collects); the
    frame is then written to the ``noop`` sink, the action. Each layer
    runs under its own job tag, so its jobs are exactly the ones it
    fired, with no settling sleep and no stage-id bookkeeping:

    - ``build_s``/``action_s`` wall seconds, ``build_jobs``/
      ``action_jobs`` Spark jobs;
    - per layer (``build_``/``action_`` prefix): stages, tasks,
      executor run and CPU ms, input bytes, shuffle read/write bytes,
      shuffle records written, spill bytes, peak execution memory of
      the largest stage;
    - ``PLAN_OPS`` counts of the frame's physical plan (AQE's initial
      plan: deterministic, unlike its runtime re-plans);
    - ``top_stages``: the ``TOP_STAGES`` stages with the most executor
      run time, each with its layer;
    - ``evicted_stages``: jobs and stages the status store had already
      evicted (it retains ``spark.ui.retainedStages``, 1000 by default);
      their counters are missing, so a record with a non-zero count is
      partial.
    """
    with _job_tag(spark) as build_tag:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
    with _job_tag(spark) as action_tag:
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    rec = {"label": label, "build_s": t1 - t0, "action_s": t2 - t1}
    store = spark.sparkContext._jsc.sc().statusStore()
    seen: set = set()
    ran = []
    rec["evicted_stages"] = 0
    for layer, tag in (("build", build_tag), ("action", action_tag)):
        ids = _tagged_job_ids(spark, tag)
        stages, evicted = _job_stages(store, ids, seen)
        rec["evicted_stages"] += evicted
        rec[f"{layer}_jobs"] = len(ids)
        for k, v in _stage_totals(stages).items():
            rec[f"{layer}_{k}"] = v
        ran += [dict(s, layer=layer) for s in stages]
    rec.update(plan_ops(df._jdf.queryExecution().executedPlan().toString()))
    rec["top_stages"] = [
        {
            k: s[k]
            for k in (
                "layer", "stage_id", "num_tasks", "executor_run_time_ms",
                "input_records", "shuffle_read_records",
                "shuffle_write_records", "disk_spilled_bytes",
            )
        }
        for s in sorted(ran, key=lambda s: -s["executor_run_time_ms"])[
            :TOP_STAGES
        ]
    ]
    return rec
