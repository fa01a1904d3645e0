"""Bucketed on-disk layout for the property graph (SURVEY.md §1.5).

The reference routes every node to a partition by hashing its id
(murmur3 partition routing) and serves point lookups from that one
partition's index without scanning the others (reference:
src/serverlib/FileStore.fs:281-298 — `GetNodeIdHash` → partition
queue → per-partition index probe). The Spark-native equivalent is a
Hive-style partitioned parquet layout keyed by a deterministic bucket
of ``node_id``: a `get "<id>"` then carries two predicates —
``bucket = B(id)`` (a PARTITION filter: non-matching directories are
pruned at planning time, their files never opened) and
``node_id = id`` (pushed into the parquet row-group scan). Each
bucket's rows are written sorted on ``node_id``, so a row group covers
a narrow id range and the pushed filter skips every row group whose
``[min, max]`` misses the seeds: a get reads about one row group per
seed, however large its bucket.

Bucket function: the first 8 hex digits of md5(node_id) mod
``n_buckets`` — the repo-wide md5-prefix determinism doctrine, and
(unlike ``F.hash``) computable driver-side in pure Python so the
planner can bind the bucket literal without running a Spark job.

At 100 TB: ``n_buckets`` sizes the layout (aim for partitions of a
few GB); bucket count is recorded in a ``_ekati_buckets.json``
sidecar so readers never guess. Point lookups touch 1/n_buckets of
the data regardless of corpus size; full scans read everything
exactly as before (the bucket column prunes nothing when
unconstrained).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_SIDECAR = "_ekati_buckets.json"


def bucket_expr(col: Column, n_buckets: int) -> Column:
    """Spark-side bucket id: int(md5(id)[:8], 16) % n_buckets."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    ).cast("int")


def bucket_of(node_id: str, n_buckets: int) -> int:
    """Driver-side twin of ``bucket_expr`` (bit-identical)."""
    return int(hashlib.md5(str(node_id).encode()).hexdigest()[:8], 16) % (
        n_buckets
    )


def write_bucketed_props(
    props: DataFrame, path: str, n_buckets: int = 64
) -> None:
    """Materialize ``props`` Hive-partitioned by the node_id bucket,
    each bucket's rows sorted on ``node_id``.

    One shuffle (repartition on the bucket column) so each partition
    directory is written by the tasks that own it — without it every
    task appends a file into every directory (n_tasks × n_buckets
    small files, the classic partitionBy mistake). The sort key leads
    with ``bucket``: the partitioned writer needs its input ordered on
    the partition column, and a task sorted on ``node_id`` alone (two
    buckets can share a task) gets the writer's own sort on ``bucket``,
    which drops the ``node_id`` order. Sorted files give each row group
    a narrow ``[min, max]`` node_id range, so a pushed ``node_id IN``
    skips the row groups that hold no seed."""
    (
        props.withColumn("bucket", bucket_expr(F.col("node_id"), n_buckets))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "node_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    with open(os.path.join(path, _SIDECAR), "w") as fh:
        json.dump({"n_buckets": n_buckets, "key": "node_id"}, fh)


def read_bucket_count(path: str) -> int:
    with open(os.path.join(path, _SIDECAR)) as fh:
        return int(json.load(fh)["n_buckets"])


def write_bucketed_edges(
    edges: DataFrame, path: str, n_buckets: int = 64
) -> None:
    """Materialize the edge table Hive-partitioned by the SOURCE node's
    bucket — the layout a traversal prunes against: a hop expanding
    frontier F only needs the partitions owning F's node ids. Same
    single-shuffle write discipline as ``write_bucketed_props``."""
    (
        edges.withColumn("bucket", bucket_expr(F.col("src"), n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    with open(os.path.join(path, _SIDECAR), "w") as fh:
        json.dump({"n_buckets": n_buckets, "key": "src"}, fh)


def bucketed_edge_source(
    spark: SparkSession, path: str, stats: dict | None = None
):
    """Per-hop edge binding for ``traverse.follow`` over a bucketed edge
    layout — the reference's remote partition lookup (it hashes each
    frontier id to its owning partition and asks only that partition;
    FileStore.fs:281-298) re-expressed as parquet partition pruning:

    each hop collects the frontier's DISTINCT BUCKETS driver-side (at
    most ``n_buckets`` ints — bounded regardless of frontier size; the
    node ids themselves never leave the cluster) and binds them as a
    literal ``isin`` on the partition column, so planning prunes every
    directory owning no frontier node. A 3-hop walk from 10 seeds on a
    4096-bucket 100 TB edge table opens a handful of directories per
    hop instead of scanning E three times. Cost: one tiny aggregate
    job per hop (over the already-checkpointed frontier).

    The layout is opened once, here, so a hop plans its pruned scan
    without re-reading the path or re-inferring the schema.

    Pass ``stats`` to receive ``{hop: sorted bucket list}`` telemetry —
    the bench derives files-scanned counts from it."""
    n = read_bucket_count(path)
    layout = spark.read.parquet(path)

    def edges_for_hop(frontier: DataFrame, hop: int) -> DataFrame:
        buckets = sorted(
            r.b
            for r in frontier.select(
                bucket_expr(F.col("node_id"), n).alias("b")
            )
            .distinct()
            .collect()
        )
        if stats is not None:
            stats[hop] = buckets
        return layout.filter(F.col("bucket").isin(buckets)).drop("bucket")

    return edges_for_hop
