"""Bounded graph traversal — the reference's ``follow`` operator
(SURVEY.md §2 #11; reference eval ``src/core/FileStore.fs:166-220,
373-392``) as an iterative BFS of distributed DataFrame joins.

Semantics (mirroring the reference):

- ``follow * a..b``       — any edge, hop range [a, b]
- ``follow ("knows" 1..2 && "likes" 1)`` — named edges; a boolean tree of
  per-label hop windows decides (1) whether an edge may be expanded at
  hop h (any leaf with ``h <= to`` matching the label) and (2) whether a
  reached node is emitted (tree evaluates true with leaves requiring
  ``from <= h <= to``).
- A node is loaded/emitted at most once per query — the reference uses a
  10k bloom filter (``FileStore.fs:398-407``); we keep an exact
  distributed ``visited`` set via left-anti join (strictly stronger,
  matches the uniqueness the tests assert, ``Tests.fs:882-900``).
- Hop 0 (the seeds) is emitted iff the range includes 0.

Scale design: frontier and visited stay DataFrames (never collected).
Each hop is a left-semi join ``hop_edges ⋉ frontier`` on ``src =
node_id`` (Pregelix: a message-passing superstep is a join whose type
the planner picks), so the frontier is only probed, never made
distinct: a node stream may repeat a node and the hop returns the same
edges. AQE broadcasts the frontier when it is small. The semi-join then
keeps the edges' own partitioning, so edges hash-partitioned on ``dst``
(Pregelix partitions a superstep's messages on the destination vertex)
deliver each hop's reached nodes already clustered on ``node_id``: the
per-hop group-by, the visited anti-join and the final group-by need no
Exchange once those edges are persisted (a cut or uncached frame reports
no partitioning; ``checkpoint.py``). Each non-final hop's result is
eagerly cut (it feeds 3 downstream plans; see ``follow``'s docstring),
which also caps lineage growth (bounded hops make the driver loop safe;
SURVEY §7 risks); the final hop stays lazy.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ekati_spark.checkpoint import cut_lineage


# -- follow spec tree (IR mirror of FollowOperator, types.proto:79-106) ----


@dataclass(frozen=True)
class Any:
    frm: int
    to: int


@dataclass(frozen=True)
class Edge:
    label: str
    frm: int
    to: int


@dataclass(frozen=True)
class And:
    left: object
    right: object


@dataclass(frozen=True)
class Or:
    left: object
    right: object


def _expand_pred(spec, hop: int) -> Column:
    """May an edge with this label be expanded at hop ``hop`` (1-based)?"""
    if isinstance(spec, Any):
        return F.lit(hop <= spec.to)
    if isinstance(spec, Edge):
        return F.lit(hop <= spec.to) & (F.col("label") == spec.label)
    if isinstance(spec, And):
        return _expand_pred(spec.left, hop) | _expand_pred(spec.right, hop)
    if isinstance(spec, Or):
        return _expand_pred(spec.left, hop) | _expand_pred(spec.right, hop)
    raise TypeError(f"bad follow spec: {spec!r}")


def _emit_pred(spec, hop: int) -> Column:
    """Is a node reached via this edge at hop ``hop`` emitted?"""
    if isinstance(spec, Any):
        return F.lit(spec.frm <= hop <= spec.to)
    if isinstance(spec, Edge):
        return F.lit(spec.frm <= hop <= spec.to) & (F.col("label") == spec.label)
    if isinstance(spec, And):
        return _emit_pred(spec.left, hop) & _emit_pred(spec.right, hop)
    if isinstance(spec, Or):
        return _emit_pred(spec.left, hop) | _emit_pred(spec.right, hop)
    raise TypeError(f"bad follow spec: {spec!r}")


def _max_hops(spec) -> int:
    if isinstance(spec, (Any, Edge)):
        return spec.to
    return max(_max_hops(spec.left), _max_hops(spec.right))


def _emits_zero(spec) -> bool:
    if isinstance(spec, (Any, Edge)):
        return spec.frm <= 0
    return _emits_zero(spec.left) or _emits_zero(spec.right)


class FrontierOverflow(RuntimeError):
    """A traversal hop produced more frontier nodes than ``max_frontier``
    allows (adversarial fan-out guard; see ``follow``)."""


def follow(
    edges,
    seeds: DataFrame,
    spec,
    with_hop: bool = False,
    max_frontier: int | None = None,
    on_overflow: str = "error",
) -> DataFrame:
    """Traverse ``edges(src, label, dst, ...)`` from ``seeds(node_id)``.

    ``edges`` is either a DataFrame (one edge relation for every hop)
    or a callable ``(frontier, hop) -> DataFrame`` that binds each
    hop's edge relation from the current frontier — the seam the
    bucket-pruned layout plugs into (``storage.bucketed_edge_source``
    collects the frontier's distinct buckets driver-side and returns a
    partition-pruned scan, the reference's per-hop remote partition
    lookup). Semantics are identical either way.

    ``seeds`` may repeat a node: every hop is a left-semi join of the
    hop's edges against the frontier, which returns each matching edge
    once however often its source appears, and the per-hop ``groupBy``
    and the final one reduce the reached nodes to one row each.

    Returns a DataFrame of ``node_id`` (plus ``hop`` when ``with_hop``) of
    every node emitted by the follow spec, deduplicated query-wide.

    Over persisted edges hash-partitioned on ``dst`` the hops run no
    Exchange (module docstring). Seeds that read a cached frame (the
    stream out of an earlier ``follow`` step) are broadcast twice at
    hop 1, as the frontier and as the visited set: AQE does not reuse
    two broadcasts over one cached frame (``checkpoint.py``; one extra
    job in a served two_hop).

    Each non-final hop's frontier is **eagerly cut** (``cut_lineage``):
    the next hop's join, the visited anti-join, and the emitted union
    all reference the same per-hop plan, and without materialization the
    lazy DAG recomputes every earlier hop's edge scan 3-4x per hop
    (exponential in hop count). The frontier is tiny relative to the
    edge table, so the cut is cheap; the edge scan stays pruned per hop
    because ``_expand_pred`` pushes the label predicate into the scan
    (constant-folding prunes union branches -- only the tables a hop can
    reach are read). The final hop has one consumer and stays lazy, so
    a one-hop follow fires no job of its own.

    ``max_frontier`` guards against adversarial fan-out (a super-node
    exploding a hop into a frontier that swamps the next join). When a
    hop's frontier exceeds it: ``on_overflow="error"`` (default) raises
    ``FrontierOverflow`` LOUDLY — a traversal that cannot honor its
    semantics within budget should fail, not silently degrade; pass
    ``on_overflow="truncate"`` to instead keep the ``max_frontier``
    lowest node_ids (deterministic total order) and continue — emitted
    results are then a documented UNDER-approximation, the shape a
    bounded interactive explorer wants. The per-hop count this costs
    reads the already-cut frontier, not the edge table; with
    ``max_frontier=None`` (default) no count job runs.
    """
    if on_overflow not in ("error", "truncate"):
        raise ValueError(f"on_overflow must be error|truncate: {on_overflow}")
    seeds = seeds.select("node_id")
    max_hop = _max_hops(spec)

    emitted: list[DataFrame] = []
    if _emits_zero(spec):
        emitted.append(seeds.withColumn("hop", F.lit(0)))

    visited = seeds
    frontier = seeds
    for hop in range(1, max_hop + 1):
        hop_edges = edges(frontier, hop) if callable(edges) else edges
        # semi-join on the frontier's own node_id: at hop 1 the frontier
        # and the visited set are the same seeds plan, so AQE reuses one
        # broadcast of it for this join and the anti-join below -- unless
        # the seeds read a cached frame (follow's docstring)
        step = (
            hop_edges.join(
                frontier, hop_edges.src == frontier.node_id, "left_semi"
            )
            .filter(_expand_pred(spec, hop))
            .select(
                F.col("dst").alias("node_id"),
                _emit_pred(spec, hop).alias("__emit"),
            )
            .groupBy("node_id")
            .agg(F.max("__emit").alias("__emit"))
            .join(visited, "node_id", "left_anti")
        )
        if hop < max_hop:
            # materialize: consumed by 3 downstream plans (next join,
            # visited, emit); the last hop is consumed once -- stay lazy.
            step = step.transform(cut_lineage)
            if max_frontier is not None and step.count() > max_frontier:
                if on_overflow == "error":
                    raise FrontierOverflow(
                        f"follow hop {hop} frontier exceeds "
                        f"max_frontier={max_frontier}"
                    )
                step = (
                    step.orderBy("node_id")
                    .limit(max_frontier)
                    .transform(cut_lineage)
                )
        new_frontier = step.select("node_id")
        emitted.append(
            step.filter(F.col("__emit")).select("node_id").withColumn(
                "hop", F.lit(hop)
            )
        )
        # no cut: a union of already-cut frontiers and the seeds, read
        # only by the next hop's anti-join, which needs no distinct rows
        visited = visited.unionByName(new_frontier)
        frontier = new_frontier

    out = emitted[0]
    for e in emitted[1:]:
        out = out.unionByName(e)
    # one row per node (min hop), mirroring emit-once semantics
    out = out.groupBy("node_id").agg(F.min("hop").alias("hop"))
    return out if with_hop else out.select("node_id")
