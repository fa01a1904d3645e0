"""Lineage-cut policy for iterative kernels (``graph/algorithms.py``'s
``_relax_min`` under BFS, multi-source BFS, bounded Bellman-Ford,
earliest arrival and min-label components; star-CC, k-core, k-truss,
k-means, ...).

A driver-side loop whose round reads its state twice must cut lineage
once per round — otherwise the plan doubles every round, and each
action re-derives the whole iteration history. ``_relax_min``'s
frontier is read by the next round's join, by every later round's
visited anti join and by the result, so it is cut once per round. A
loop of fixed, small depth whose state has one consumer per round needs
no cut: its plan grows by one round's operators per round and runs as
one action. g43's HyperBall reads its one-row-per-node register state
once per superstep (one join against the stored relation, one
group-by), so its three supersteps are one lazy plan; keeping ``state ∪
contributions`` read the state twice and doubled the plan each
superstep. PageRank's ranks are likewise read once per superstep and
are not cut. Two modes:

- ``local`` (default): ``DataFrame.localCheckpoint`` — executor-local
  block storage, zero HDFS round-trip, the right call on a healthy
  cluster and in local[] testing. NOT replicated: on a real
  1000-executor cluster a lost executor mid-iteration loses the blocks
  it held, and because localCheckpoint also TRUNCATES lineage, the
  job cannot recompute them — the query fails and restarts from zero.
- ``reliable``: ``DataFrame.checkpoint`` — writes the per-round state
  to the SparkContext checkpoint directory (HDFS/S3/DBFS on a
  cluster). Survives executor loss; costs one distributed-FS write of
  the O(|V|) state per round. The Spark analog of the reference's
  FASTER durable snapshots (reference:
  src/serverlib/NodeAttrIndex.cs:66-85 — index state checkpointed so
  a restarted node resumes instead of re-ingesting).

Switch at the session level, no per-call-site changes:

    from ekati_spark.checkpoint import enable_reliable_checkpoints
    enable_reliable_checkpoints(spark, "hdfs:///checkpoints/ekati")

Rule of thumb at 100 TB: iteration state is O(|V|) (a few GB for a
billion nodes) while one PageRank round over the edge table costs
minutes — the reliable write is cheap insurance once expected
executor-loss-per-job is non-trivial. Keep ``local`` for short loops
on small state where a rare restart is cheaper than N round-trips.

When to cut eagerly. ``cut_lineage`` materializes the frame now.
``cut_lineage_lazy`` does not defer the work to the first action under
AQE: planning the cut still runs every shuffle stage below it at call
time, and only the final stage waits. On Spark 4.1.2, a groupBy + join
+ distinct frame fired 3 jobs cut eagerly, 2 cut lazily and 0 uncut
(pinned in tests/test_checkpoint.py); with AQE off, 2 eagerly and 1
lazily. So l136's three beam cuts, made lazy, save only 3 of its 19
warm build jobs at sf0.01. Cut eagerly only when the result has ≥ 2
consumers or is costly to recompute. Otherwise the eager job is pure
overhead, but a lazy cut of a shared result is worse: each consumer
inside one action re-derives it. l108b's final-assign cut went lazy
and, at sf1, recomputed 3× inside one action; sf0.1 had not shown it
(round 16; the cut is eager again).

Two consumers inside one plan are not shared for free either, even when
the result is small and read from a persisted frame. Under AQE each read
of a cached frame is its own ``TableCacheQueryStage``, and two identical
broadcasts over it are not reused: on Spark 4.1.2, ``probe ⋉ t ▷ t``
with ``t = cached.filter(...).select("k")`` fires 3 jobs and plans no
``ReusedExchange``; with AQE off, 2 jobs and 1 reuse; over an uncached
``spark.range`` frame, 2 jobs either way (pinned in
tests/test_checkpoint.py). A served two_hop pays this once: its second
``follow`` broadcasts the first one's stream as the frontier and again
as the visited set. An eager cut would replace that one job with its
own, so a one-action plan keeps it.

A cut is not a partitioned cache. On Spark 4.1.2 with AQE on, a cut
frame reports ``UnknownPartitioning``: ``repartition(4, "v")
.localCheckpoint()`` followed by ``groupBy("v")`` plans 1 Exchange (0
with AQE off, 0 on the same frame persisted). So every consumer of a
cut frame re-shuffles it. A relation that many plans join or group on
one key is persisted instead, hash-partitioned on that key:
``queries.graph._copurchase``'s relation is persisted on ``v``, and a
join on ``v`` reads it with no Exchange over it (g43's supersteps,
pinned in tests/test_copurchase_store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

MODE_KEY = "spark.ekati.checkpoint.mode"


def enable_reliable_checkpoints(spark: SparkSession, checkpoint_dir: str):
    """Route every subsequent ``cut_lineage`` through reliable
    ``DataFrame.checkpoint`` against ``checkpoint_dir``."""
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    spark.conf.set(MODE_KEY, "reliable")


def disable_reliable_checkpoints(spark: SparkSession):
    spark.conf.set(MODE_KEY, "local")


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eager lineage cut under the session's checkpoint mode.

    Used as ``df.transform(cut_lineage)`` so call sites keep method
    chaining. Eager because every caller immediately consumes the
    result ≥2 times — materializing now is the point.
    """
    return _cut(df, eager=True)


def cut_lineage_lazy(df: DataFrame) -> DataFrame:
    """Lazy variant: the final stage materializes on the first action.
    Under AQE the shuffle stages below the cut still run now, at call
    time (module docstring); only the last stage's job is saved."""
    return _cut(df, eager=False)


def _cut(df: DataFrame, eager: bool) -> DataFrame:
    mode = df.sparkSession.conf.get(MODE_KEY, "local")
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
