"""Step-IR → DataFrame compiler + query engine.

The reference executes the Step list as a lazy pull pipeline over node
sequences (``src/core/FileStore.fs:343-396``); here each Step lowers to a
DataFrame transformation and Catalyst replaces most of the reference's
peephole fusion (``MergeSameSteps``, FileStore.fs:221-269) with
CombineFilters/CombineLimits/CollapseProject (SURVEY §4). One fusion
lives here: Catalyst does not combine an ``Offset`` across two sorts, so
``run_get`` folds each run of ``skip``/``take`` steps into one ordered
window, ``orderBy(remote, node_id).limit(k + n).offset(k)``, which plans
as one TakeOrderedAndProject.

Execution model: a query is a *node stream* (DataFrame of node_id,
remote) that steps transform; the terminal materialization joins the
stream to the props and returns the surviving nodes' attribute rows
(long format), with latest-wins or history versioning
(``Printers.cs:139-169``). The stream is a multiset: a follow hop and a
filter are left-semi joins, which do not need the stream distinct, so
only the consumers whose result depends on multiplicity (skip, take,
transform plugins and the materialization's join) take ``distinct()``
first, and Catalyst drops that ``distinct()`` where the stream is
already distinct (after a follow or a skip/take window). A get with
steps fires no Spark job until its action (a follow of more than one
hop cuts its inner frontiers).

Shuffles: over the FK graph's persisted edges, hash-partitioned on
``dst`` (``PropertyGraph.from_relational``), a follow step's output
arrives clustered on ``node_id`` (``graph/traverse.py``), and so does a
filter's semi-join of it against a broadcast node set. Exact seeds on a
bucketed layout materialize in one partition: an exact-id read reads
the seeds' buckets in one partition (``_seed_props``), an expanding
step's result joins the whole layout read in one partition, and the
distinct stream is coalesced to that partition for a shuffled hash join
(``_materialize``). The latest-wins window, its dedup, the ``-h`` sort,
the ``fields`` filters and a skip/take window all take that partition
as it is, so a served point get is one Spark job of one task, a served
one_hop, two_hop, follow-filter-fields or follow-skip-limit plans no
Exchange and broadcasts none of the props, and exact seeds with
``filter`` or ``skip``/``take`` steps shuffle none of the props.
Wildcard seeds keep the parallel plan, whose inner join keeps the
stream's clustering when the props are broadcast. After a put the
layout is gone and the edges are a union with no layout: each hop
shuffles again, and, as in memory, the window hash-shuffles the pruned
rows once.

Determinism: the reference's stream order is storage order; skip/limit
here use the canonical node_id ordering (SURVEY §5d).
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ekati_spark.graph import ir
from ekati_spark.graph.model import PropertyGraph
from ekati_spark.graph.parser import parse
from ekati_spark.graph.traverse import follow
from ekati_spark.schemas import PROPS_SCHEMA, prop_row


class QueryEngine:
    """Holds a PropertyGraph and executes AHGHEE commands against it.

    ``put`` appends rows (fragments accumulate — NodeAttrIndex.cs:187-232);
    ``get`` returns a DataFrame of attribute rows; ``load`` ingests
    GraphML / N-Triples files.
    """

    def __init__(
        self,
        spark: SparkSession,
        graph: PropertyGraph | None = None,
        on_progress=None,
    ):
        self.spark = spark
        self.graph = graph or PropertyGraph(
            spark.createDataFrame([], PROPS_SCHEMA)
        )
        # ingest-progress sink for URL loads (reference: the >=1 s
        # progress responses the server streams back); None = silent
        self.on_progress = on_progress
        # put and load replace self.graph by read-modify-write (_append);
        # two unguarded writers would both extend the same old graph and
        # one write would be lost
        self._write_lock = threading.Lock()

    # -- public API -------------------------------------------------------

    def execute(self, text: str) -> DataFrame:
        cmd = parse(text)
        if isinstance(cmd, ir.GetQuery):
            return self.run_get(cmd)
        if isinstance(cmd, ir.PutCommand):
            return self.run_put(cmd)
        if isinstance(cmd, ir.LoadCommand):
            return self.run_load(cmd)
        raise TypeError(f"unknown command {cmd!r}")

    # -- put --------------------------------------------------------------

    def run_put(self, cmd: ir.PutCommand, ts: int | None = None) -> DataFrame:
        """One timestamp per Add batch (setTimestamps, FileStore.fs:82-89,
        517-519); fedge/dedge key-side references keep the key string with
        a meta marker (our representation of key-as-NodeID)."""
        batch_ts = ts if ts is not None else time.time_ns() // 1_000_000
        rows = []
        for node in cmd.nodes:
            for p in node.pairs:
                is_ref = p.kind in (ir.PairKind.EDGE, ir.PairKind.DEDGE)
                val = p.value.iri if isinstance(p.value, ir.NodeRef) else p.value
                meta = (
                    "key_is_ref"
                    if p.kind in (ir.PairKind.FEDGE, ir.PairKind.DEDGE)
                    else None
                )
                if isinstance(val, (dict, list)):
                    # nested obj/arr → JSON metabytes fallback
                    # (ContextExtensions.cs:269-278)
                    import json

                    rows.append(
                        prop_row(
                            node.id.iri, p.key, json.dumps(val), ts=batch_ts,
                            remote=node.id.remote,
                            meta_type="application/json",
                        )
                    )
                else:
                    rows.append(
                        prop_row(
                            node.id.iri, p.key, val, ts=batch_ts,
                            remote=node.id.remote, is_ref=is_ref,
                            meta_type=meta,
                        )
                    )
        return self._append(self.spark.createDataFrame(rows, PROPS_SCHEMA))

    def _append(self, new: DataFrame) -> DataFrame:
        """Add prop rows to the graph; returns them. Edges are unioned
        explicitly: a from_relational graph holds its FK edges in a
        SEPARATE frame (they are not dtype='ref' prop rows), so
        rebuilding from the props union alone would silently drop them.
        Deriving the new edges from the new props only keeps the
        put-shape invariant (edges == ref-rows of props) intact too."""
        with self._write_lock:
            self.graph = PropertyGraph(
                self.graph.props.unionByName(new),
                self.graph.edges.unionByName(PropertyGraph(new).edges),
            )
        return new

    # -- get --------------------------------------------------------------

    def run_get(self, q: ir.GetQuery) -> DataFrame:
        fields_steps = [s for s in q.steps if isinstance(s, ir.FieldsStep)]
        exact = not any(s.iri == "*" for s in q.seeds)
        if exact and len(fields_steps) == len(q.steps):
            # Step-free get (exact ids, only `fields` steps): the result
            # nodes ARE the seeds, so a literal predicate the scan pushes
            # down replaces the seed stream and its semi-join. Steps
            # that change the stream keep the path below: skip/take must
            # not count a seed that does not exist.
            return self._materialize(
                self._seed_props(q.seeds), self._seed_pred(q.seeds),
                fields_steps, q.history,
            )
        stream = self._seed_stream(q.seeds)
        window: list = []  # the current run of skip/take steps
        for step in q.steps:
            if isinstance(step, ir.FieldsStep):
                continue  # applied at materialization
            if isinstance(step, (ir.SkipStep, ir.LimitStep)):
                window.append(step)
                continue
            if window:
                stream, window = self._skip_take(stream, window), []
            stream = self._apply_step(stream, step)
        if window:
            stream = self._skip_take(stream, window)
        # When the result set provably stays inside the seed set (exact
        # iris, no expanding step), the attribute fetch reads only the
        # seeds' bucket partitions. Expanding steps (follow/transform)
        # fall back to the full props view (read in one partition from
        # exact seeds on a bucketed layout, _materialize).
        expanding = any(
            isinstance(s, (ir.FollowStep, ir.TransformStep)) for s in q.steps
        )
        props = (
            self._seed_props(q.seeds)
            if exact and not expanding
            else self.graph.props
        )
        one_task = exact and self.graph.bucket_info is not None
        return self._materialize(
            props, stream, fields_steps, q.history, one_task
        )

    def _seed_props(self, seeds) -> DataFrame:
        """The props rows that can hold the exact-id ``seeds``. On a
        bucketed layout each seed's bucket literal is bound driver-side,
        so planning prunes every other partition directory
        (PartitionFilters) — the reference's one-partition index probe,
        FileStore.fs:281-298 — and the pruned scan is read in ONE
        partition. That partition satisfies the clustering of the
        latest-wins window and its dedup and the ordering of the ``-h``
        sort, so none of them plans an Exchange and a served get is one
        Spark job of one task, as the reference merges a node's
        fragments in the one partition its id hashes to
        (NodeAttrIndex.cs:96-105). The trade-off: that task reads every
        bucket the seeds touch, serially. Buckets are written sorted on
        ``node_id`` (``storage.write_bucketed_props``), so the pushed
        ``node_id IN`` skips the row groups that hold no seed and the
        task reads about one row group per seed; its output goes whole
        to the driver anyway. In memory (or after a put, which drops
        ``bucket_info``): all props, planned as before."""
        if self.graph.bucket_info is None:
            return self.graph.props
        from ekati_spark.graph.storage import bucket_of

        layout, n = self.graph.bucket_info
        bks = sorted({bucket_of(s.iri, n) for s in seeds})
        return (
            layout.filter(F.col("bucket").isin(bks)).drop("bucket").coalesce(1)
        )

    @staticmethod
    def _seed_pred(seeds) -> F.Column:
        """Row predicate for exactly the exact-id ``seeds``, with the
        equality semantics of a join on (node_id, remote): ``node_id IN
        (ids)`` pushes into the parquet scan, the (iri, remote) pairs
        keep one iri on two remotes apart."""
        keys = dict.fromkeys((s.iri, s.remote) for s in seeds)
        ids = list(dict.fromkeys(iri for iri, _ in keys))
        pairs = None
        for iri, remote in keys:
            p = (F.col("node_id") == iri) & (F.col("remote") == remote)
            pairs = p if pairs is None else pairs | p
        return F.col("node_id").isin(ids) & pairs

    def _seed_stream(self, seeds) -> DataFrame:
        """Node stream = (node_id, remote) pairs — logical identity is
        (remote, iri) (MemoryPointer.partial.cs:234-245), so the same iri
        on two remotes is two nodes."""
        if any(s.iri == "*" for s in seeds):
            # full scan (FileStore.fs:300-315)
            return self.graph.props.select("node_id", "remote").distinct()
        # point lookups: the seeds that exist, read with the seed
        # partitions pruned and node_id IN pushed into the scan; one row
        # per attribute row (a multiset, module docstring)
        return (
            self._seed_props(seeds)
            .filter(self._seed_pred(seeds))
            .select("node_id", "remote")
        )

    def _apply_step(self, stream: DataFrame, step) -> DataFrame:
        if isinstance(step, ir.FollowStep):
            # traversal targets are plain iri refs (the cluster seam is
            # the shuffle, SURVEY §2 #22): followed nodes resolve in the
            # local graph (remote = "")
            out = follow(self.graph.edges, stream, step.spec)
            return out.select("node_id", F.lit("").alias("remote"))
        if isinstance(step, ir.FilterStep):
            return stream.join(
                self._filter_nodes(step.pred),
                ["node_id", "remote"],
                "left_semi",
            )
        if isinstance(step, ir.TransformStep):
            # user query-operator plugin by name (the reference's WASM
            # seam, ekati_spark/plugins.py): gets the node stream, each
            # node once, + the graph, returns a node stream
            from ekati_spark.plugins import apply_stream_plugin

            return apply_stream_plugin(stream.distinct(), step.name, self.graph)
        raise TypeError(f"unknown step {step!r}")

    @staticmethod
    def _skip_take(stream: DataFrame, steps) -> DataFrame:
        """A run of skip/take steps as one ordered window over the
        distinct stream: the same rows the steps return one by one, with
        one sort. Folds each step into (offset, limit): ``skip k`` moves
        the offset and shortens the limit, ``take n`` caps the limit."""
        offset, limit = 0, None
        for s in steps:
            if isinstance(s, ir.SkipStep):
                offset += s.n
                limit = None if limit is None else max(limit - s.n, 0)
            else:
                limit = s.n if limit is None else min(limit, s.n)
        if limit is None and offset == 0:
            return stream  # `skip 0`: every node, in no particular order
        ordered = stream.distinct().orderBy("remote", "node_id")
        if limit is not None:
            ordered = ordered.limit(offset + limit)
        return ordered.offset(offset) if offset else ordered

    def _filter_nodes(self, pred) -> DataFrame:
        """(node_id, remote) set satisfying the compare tree. Compounds
        evaluate at *node* level (FileStore.fs:140-164: leaf = ∃
        attribute): '&&' is the intersection of matching node sets (a
        node may satisfy each side via different attribute rows), '||'
        the union. The set is a multiset: it is only ever the build side
        of a left-semi join."""
        if isinstance(pred, ir.Compound):
            l = self._filter_nodes(pred.left)
            r = self._filter_nodes(pred.right)
            if pred.bool_op == "&&":
                return l.join(r, ["node_id", "remote"], "left_semi")
            return l.unionByName(r)
        return (
            self.graph.props.filter(self._compare_col(pred))
            .select("node_id", "remote")
        )

    def _compare_col(self, pred) -> F.Column:
        """Leaf predicate on props rows — intended semantics: key match +
        typed value comparison in the matching variant branch; '!=' means
        'has key and a value that differs'."""
        assert isinstance(pred, ir.KeyValueCmp)
        key_ok = F.col("key") == pred.prop
        v = pred.value
        if isinstance(v, bool):
            col = F.col("bool")
        elif isinstance(v, int):
            col = F.col("i64")
        elif isinstance(v, float):
            col = F.col("dbl")
        else:
            col = F.col("str")
        ops = {
            "==": col == F.lit(v),
            "!=": col != F.lit(v),
            "<": col < F.lit(v),
            "<=": col <= F.lit(v),
            ">": col > F.lit(v),
            ">=": col >= F.lit(v),
        }
        return key_ok & ops[pred.op]

    # -- fields / materialization ----------------------------------------

    def _clude_pred(self, clude) -> F.Column | None:
        """Fold a clude tree into a row predicate. Sequence semantics match
        Enumerable.Union/Except over row sets (FileStore.fs:119-125):
        include extends the kept set, exclude subtracts from it."""
        if isinstance(clude, (tuple, list)):
            acc = None
            for c in clude:
                if isinstance(c, ir.Exclude):
                    inner = self._clude_pred(c.item)
                    acc = (acc if acc is not None else F.lit(True)) & ~inner
                elif isinstance(c, ir.Include):
                    inner = self._clude_pred(c.item)
                    acc = inner if acc is None else (acc | inner)
                else:
                    inner = self._clude_pred(c)
                    acc = inner if acc is None else (acc | inner)
            return acc
        if isinstance(clude, ir.Exclude):
            return ~self._clude_pred(clude.item)
        if isinstance(clude, ir.Include):
            return self._clude_pred(clude.item)
        assert isinstance(clude, ir.CludeOp)
        return self._part_pred(clude.key, is_key=True) & self._part_pred(
            clude.val, is_key=False
        )

    def _part_pred(self, part: ir.CludePart, is_key: bool) -> F.Column:
        if part.kind == "star":
            return F.lit(True)
        if part.kind == "lit":
            if is_key:
                return F.col("key") == part.value
            return (F.col("dtype") == "str") & (F.col("str") == part.value)
        if part.kind == "caret":
            if is_key:
                return F.col("meta_type") == "key_is_ref"
            return F.col("dtype") == "ref"
        if part.kind == "caret_target":
            if is_key:
                return (F.col("meta_type") == "key_is_ref") & (
                    F.col("key") == part.value
                )
            return (F.col("dtype") == "ref") & (F.col("ref") == part.value)
        if part.kind == "type":
            dtype = {"int": "i64", "string": "str", "float": "dbl"}[part.value]
            return F.col("dtype") == dtype
        raise ValueError(f"bad cludepart {part!r}")

    def _materialize(
        self, props: DataFrame, nodes, fields_steps, history: bool,
        one_task: bool = False,
    ) -> DataFrame:
        """Attribute rows of the result nodes among ``props``. ``nodes``
        is a node stream (DataFrame of node_id, remote) or, for a
        step-free get, a row predicate on ``props``.

        ``one_task`` (exact seeds on a bucketed layout) reads ``props``
        and the distinct stream in one partition and joins them there:
        with both join inputs in one partition a shuffled hash join needs
        no Exchange, and neither do the latest-wins window, its dedup,
        the ``-h`` sort or the ``fields`` filters, so a served traversal
        materializes in one task, as the reference merges each reached
        node's fragments where the node is stored
        (NodeAttrIndex.cs:96-105), and the layout is never broadcast.
        The hint is needed: by size alone the planner broadcasts the
        layout. The trade-off: that task scans the whole layout serially
        (a broadcast reads the same rows, then builds its hash table on
        the driver), and ``coalesce(1)`` has no shuffle below it, so the
        stream's own stage, the edge scan included, runs in that task
        too. Pruning the layout to the reached nodes' buckets needs a
        runtime filter. Wildcard seeds keep the parallel plan: they
        would push the whole graph through the one task."""
        # Prune BEFORE the latest-wins window: the dedup partitions by
        # (node_id, key), so pruning to the result nodes first commutes
        # with it — and the window then runs over only the result nodes'
        # rows instead of the whole store (the reference merges
        # fragments per looked-up node, never store-wide;
        # NodeAttrIndex.cs:96-105). Catalyst does not push the join
        # below a window on its own.
        if isinstance(nodes, DataFrame):
            # No cut: the stream has this one consumer, so an eager cut
            # would only run its plan as build jobs before the action
            # (checkpoint.py: cut eagerly only for >= 2 consumers). An
            # inner join, not a semi-join: Catalyst pushes a semi-join
            # into every branch of a union props frame (from_relational),
            # which runs the whole stream plan once per branch (g46 at
            # sf0.1, 4 cores: 2.3 -> 3.3 s). Catalyst removes the
            # distinct this needs when the stream is already distinct
            # (after a follow or a skip/take window).
            nodes = nodes.distinct()
            if one_task:
                props = props.coalesce(1)
                nodes = nodes.coalesce(1).hint("shuffle_hash")
            props = props.join(nodes, ["node_id", "remote"])
        else:
            props = props.filter(nodes)
        pruned = PropertyGraph(props)
        props = pruned.history() if history else pruned.latest()
        for fs in fields_steps:
            pred = self._clude_pred(fs.cludes)
            if pred is not None:
                props = props.filter(pred)
        return props.select(
            "node_id",
            "remote",
            "key",
            "ts",
            "dtype",
            "str",
            "i64",
            "dbl",
            "bool",
            "ref",
        )

    # -- load -------------------------------------------------------------

    def run_load(self, cmd: ir.LoadCommand) -> DataFrame:
        if cmd.kind == "graphml":
            from ekati_spark.sources.graphml import load_graphml

            new = load_graphml(self.spark, cmd.path)
        elif cmd.kind == "nt":
            # `load nt "<file-or-url>"` (reference WatService.cs:97-300):
            # URLs spool through the chunked progress fetch; plain paths
            # read distributed directly.
            if "://" in cmd.path:
                from ekati_spark.sources.ntriples import load_ntriples_url

                new = load_ntriples_url(
                    self.spark, cmd.path, progress=self.on_progress
                )
            else:
                from ekati_spark.sources.ntriples import load_ntriples

                new = load_ntriples(self.spark, cmd.path)
        else:
            raise ValueError(f"unknown load type {cmd.kind!r}")
        return self._append(new)
