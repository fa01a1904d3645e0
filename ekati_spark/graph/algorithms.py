"""Analytics-scale graph algorithms as Pregel-style DataFrame iteration.

The reference has no analytics surface (its only traversal is the bounded
``follow`` pipeline, ``src/core/FileStore.fs:166-220``); these extend the
engine per the GraphX-for-analytics design (SURVEY.md §1.5): the vertex
state is a DataFrame, each superstep is a join-aggregate against the edge
table, and the driver loop carries the iteration. A superstep's result is
cut (``cut_lineage``) only when it has two or more consumers, by
``checkpoint.py``'s rule: an uncut frame that is read twice is re-derived
by each reader, with every earlier superstep below it. State read once
per superstep over a fixed, small number of supersteps (PageRank's ranks)
stays one lazy plan.

BFS, multi-source BFS, bounded Bellman-Ford, earliest arrival and
min-label components are one vertex program, a per-key minimum relaxed
from the nodes that improved last round; they share one loop,
``_relax_min`` (Pregelix, VLDB 2014: a vertex program is one
join-then-group-by dataflow plan).

Scale: state and edges stay distributed; each superstep is one shuffle on
the edge key, none over an edge relation persisted hash-partitioned on
the join key (``checkpoint.py``; ``from_relational``'s FK edges are on
``dst``, the co-purchase relation on ``v``). No collect() of vertex
state; the only driver-side values are scalar convergence counts and
emptiness probes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ekati_spark.checkpoint import cut_lineage


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )


def _relax_min(
    edges: DataFrame,
    start: DataFrame,
    value: str,
    step: Column,
    keys: tuple[str, ...] = (),
    cond: Column | None = None,
    *,
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """Label-correcting per-key minimum of ``value``, relaxed along
    ``edges`` (``src``, ``dst``, ...) from ``start`` (``*keys, node_id,
    value``).

    Each round joins last round's improved rows (the frontier, alias
    ``f``) to ``edges`` (alias ``e``) on ``f.node_id = e.src`` and
    ``cond``, and takes ``min(step)`` per ``(*keys, e.dst)``. A row is
    kept only where no earlier round holds a ``value <=`` it for its
    ``(*keys, node_id)``: a left-anti join against the union of earlier
    rounds. The kept rows are the next frontier, cut once per round: the
    next join, every later anti join and the result read them. When
    ``step`` never gets worse as ``f``'s value gets better, pruning to
    the improved rows keeps the Bellman-Ford invariant: after k rounds
    the minimum is the one over paths of at most k edges.

    Stops when a round comes back empty or after ``max_rounds`` rounds.
    Returns ``(per-key minimum over start and every round, converged)``;
    ``converged`` says a round came back empty.
    """
    cols = [*keys, "node_id"]
    frontier = start.select(*cols, value).transform(cut_lineage)
    rounds, converged = [frontier], False
    for _ in range(max_rounds):
        on = F.col("f.node_id") == F.col("e.src")
        relaxed = (
            frontier.alias("f")
            .join(edges.alias("e"), on if cond is None else on & cond)
            .groupBy(
                *(F.col(f"f.{k}").alias(f"_{k}") for k in keys),
                F.col("e.dst").alias("_node_id"),
            )
            .agg(F.min(step).alias(f"_{value}"))
        )
        # Renamed there and back: the optimizer drops an alias that keeps
        # a column's name, so a cut of ``f.seed AS seed`` would keep
        # constraints on the frontier's ``f``-qualified column, and
        # Spark 4.1.2's constraint inference over the union of rounds
        # then fails (key not found). The anti join is a shuffled hash
        # join: ``relaxed`` is already clustered on its keys, AQE turning
        # a sort-merge plan into a broadcast after the shuffle costs one
        # more job, and a merge join's two sorts cost more than the hash
        # build (g14, g23 and a g34 BFS at sf0.01, local[4]: 15-25%
        # slower as a merge join).
        frontier = (
            relaxed.join(
                reduce(DataFrame.unionByName, rounds).hint("shuffle_hash"),
                [F.col(f"_{c}") == F.col(c) for c in cols]
                + [F.col(value) <= F.col(f"_{value}")],
                "left_anti",
            )
            .select(*(F.col(f"_{c}").alias(c) for c in (*cols, value)))
            .transform(cut_lineage)
        )
        if frontier.isEmpty():
            converged = True
            break
        rounds.append(frontier)
    best = (
        reduce(DataFrame.unionByName, rounds)
        .groupBy(*cols)
        .agg(F.min(value).alias(value))
    )
    return best, converged


def page_rank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with a fixed iteration count (simple variant: dangling
    mass is not redistributed, matching the SQL-oracle formulation).

    rank⁰(v) = 1/N; rankᵏ(v) = (1-d)/N + d·Σ_{u→v} rankᵏ⁻¹(u)/out(u).

    Returns ``(node_id, rank)``. One shuffle per superstep (groupBy dst);
    the contribution join reuses the checkpointed (edges ⋈ out-degree)
    relation across supersteps. ``ranks`` is read once per superstep,
    so the supersteps are one lazy plan.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    n = nodes.count()
    # out-degree rides with each edge so a superstep is join → groupBy
    ed = (
        edges.select("src", "dst")
        .join(
            edges.groupBy("src").agg(F.count("*").alias("deg")),
            "src",
        )
        .transform(cut_lineage)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            ranks.join(ed, ranks.node_id == ed.src)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, nodes.node_id == contribs.dst, "left")
            .select(
                "node_id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Weakly connected components by iterative min-label propagation over
    the undirected edge set; converges in ≤ diameter supersteps (driver
    loop exits early when no label changes). Label = min node_id (string
    order) in the component.

    Returns ``(node_id, component)``. For graphs with giant diameter an
    alternating small-star/large-star formulation converges in
    O(log²) rounds — use ``connected_components_star`` there; min-label
    propagation is for FK-shaped graphs whose diameter is bounded by the
    schema's join depth.

    Budget exhaustion is LOUD: labels still changing after ``max_iter``
    supersteps would be silently wrong on any graph whose diameter
    exceeds the budget, so it raises instead of returning partial
    labels. Labels changing ON the final budgeted superstep are not yet
    proof of non-convergence — a graph whose diameter exactly consumes
    the budget reaches the fixpoint on that pass — so one spare
    superstep confirms it (``max_iter + 1`` rounds of ``_relax_min``),
    and only a spare superstep that still changes labels raises.
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(cut_lineage)
    )
    labels, converged = _relax_min(
        und,
        _nodes(edges).withColumn("component", F.col("node_id")),
        "component",
        F.col("f.component"),
        max_rounds=max_iter + 1,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} supersteps — graph diameter exceeds the "
            "budget; raise max_iter or use connected_components_star"
        )
    return labels


def shortest_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Single/multi-source shortest path length in hops (unweighted BFS).

    Returns ``(node_id, hops)`` for every node within ``max_hops`` of any
    seed (seeds at 0). The frontier/visited discipline is the same as
    ``traverse.follow`` — min-hop per node is guaranteed because BFS
    visits in hop order.
    """
    start = seeds.select("node_id").distinct().withColumn("hops", F.lit(0))
    return _relax_min(
        edges, start, "hops", F.col("f.hops") + 1, max_rounds=max_hops
    )[0]


def multi_source_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Per-seed BFS distances: ``(seed, node_id, hops)`` for every node
    within ``max_hops`` of each seed (seeds at 0).

    All k seeds ride ONE iterative join — the frontier carries the seed
    id, so the cost is k× the frontier rows, not k passes over the edge
    table. This is the sampled-centrality shape (Eppstein-Wang): exact
    distances from a deterministic seed sample, aggregated downstream
    into closeness/harmonic estimates, instead of the all-pairs BFS
    that cannot exist at 100 TB. ``shortest_hops`` keyed on the seed
    (per-seed visited set ⇒ hop order gives min-d)."""
    start = (
        seeds.select(F.col("node_id").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node_id"), F.lit(0).alias("hops"))
    )
    return _relax_min(
        edges,
        start,
        "hops",
        F.col("f.hops") + 1,
        keys=("seed",),
        max_rounds=max_hops,
    )[0]


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SoCC'14): view each edge from both endpoints; per node
    u, connect every strictly-larger neighbor to the minimum of u's
    closed neighborhood."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    m = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge toward the smaller endpoint (key =
    max, value = min), then per node connect all its ≤-neighbors and
    itself to the neighborhood minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach = (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select("u", F.col("m").alias("v"))
    return (
        attach.unionByName(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Weakly connected components by alternating large-star / small-star
    (Kiveris et al.) — converges in O(log² n) rounds independent of graph
    diameter, unlike min-label propagation's O(diameter)
    (``connected_components``). Use this for path-shaped / high-diameter
    graphs at scale; both return ``(node_id, component)`` with component
    = min node_id (string order) in the component.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    e = _symmetrize(edges).transform(cut_lineage)

    # Convergence probe: both sides are canonical-deduped, so set
    # equality ⟺ equal counts + equal order-free hash-sum. One 2-column
    # aggregate job per round, vs exceptAll's full set-difference
    # shuffle (measured 23.3 s → 11.6 s on g50's sf0.01 verify).
    def _sig(df: DataFrame):
        return df.agg(
            F.count("*").alias("n"),
            # decimal accumulation: long-sum of 64-bit hashes overflows
            # under ANSI mode; decimal(38,0) holds ~10^18 rows' worth
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()

    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).transform(cut_lineage)
        sig2 = _sig(e2)
        e = e2
        if sig2 == sig:
            converged = True
            break
        sig = sig2
    if not converged:
        # O(log² n) rounds means 20 covers any conceivable n; reaching
        # here is a logic/data anomaly — fail loud, never label wrong.
        raise RuntimeError(
            f"connected_components_star: star-edge set not stable after "
            f"max_iter={max_iter} rounds"
        )
    # at the fixed point the edges form stars: node → its component root
    comp = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node_id"), "component"
    )
    return (
        nodes.join(comp, "node_id", "left")
        .select(
            "node_id",
            F.coalesce("component", "node_id").alias("component"),
        )
    )


def personalized_page_rank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the source set
    (uniformly over sources) instead of all nodes — the standard
    relevance-to-seed measure for recommendation / local community
    scoring. Same superstep shape as ``page_rank``; the reset vector is a
    broadcast-joined indicator column.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    src = sources.select("node_id").distinct().transform(cut_lineage)
    n_src = src.count()
    base = nodes.join(
        src.withColumn("__is_src", F.lit(True)), "node_id", "left"
    ).select(
        "node_id",
        F.when(F.col("__is_src"), F.lit(1.0 / n_src))
        .otherwise(F.lit(0.0))
        .alias("reset"),
    ).transform(cut_lineage)
    ed = (
        edges.select("src", "dst")
        .join(edges.groupBy("src").agg(F.count("*").alias("deg")), "src")
        .transform(cut_lineage)
    )
    ranks = base.select("node_id", F.col("reset").alias("rank"))
    for _ in range(iterations):
        contribs = (
            ranks.join(ed, ranks.node_id == ed.src)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            # decimal accumulation: the double quotients are quantized
            # to 18 decimals (a deterministic per-value cast) and summed
            # exactly, so in_sum doesn't depend on partition/merge order
            # — same policy as queries/base.py::dsum, and what lets the
            # unrolled-CTE oracle (g25) match bit-for-bit.
            .agg(
                F.sum(F.col("c").cast("decimal(25,18)"))
                .cast("double")
                .alias("in_sum")
            )
        )
        ranks = (
            base.join(contribs, base.node_id == contribs.dst, "left")
            .select(
                "node_id",
                (
                    (1.0 - damping) * F.col("reset")
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def k_core(edges: DataFrame, k: int, max_iter: int = 200) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree ≥ k
    (undirected, dedup-ed edges). Iterative peeling: drop nodes with
    degree < k, recompute degrees on the induced subgraph, repeat to
    fixpoint. Peel rounds are bounded by the peeling DEPTH of the graph
    (O(n) worst case on path-shaped graphs — NOT by the degeneracy), so
    non-convergence within ``max_iter`` raises rather than silently
    returning a subgraph that still contains low-degree nodes.

    Returns ``(node_id, degree)`` for surviving nodes with their
    within-core degree. Reference analog: none (Astn/ekati has no
    analytics kernels); part of the graph-analytics extension.
    """
    e = _symmetrize(edges).transform(cut_lineage)
    n_edges = e.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        deg = e.groupBy("u").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        e2 = (
            e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .transform(cut_lineage)
        )
        n_after = e2.count()
        converged = n_after == n_edges
        e, n_edges = e2, n_after
        if converged:
            break
    else:
        raise RuntimeError(
            f"k_core did not converge within {max_iter} peeling rounds"
        )
    return e.groupBy(F.col("u").alias("node_id")).agg(
        F.count("*").alias("degree")
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) made deterministic: each superstep every node adopts
    the most frequent label among its neighbors, ties broken by the
    lexicographically smallest label (the usual random tie-break would
    not be oracle-checkable). Undirected via ``_symmetrize``, so every
    node votes and is voted for; a fixed ``iterations`` keeps the
    result well-defined (synchronous LPA can oscillate on bipartite
    structures rather than converge).

    Per superstep: one shuffle join (neighbor labels), one partial-agg
    count shuffle, one window for the arg-max — all on node keys, so a
    1000-executor run co-partitions each stage; per-step state is
    O(|V|) and eagerly checkpointed to cut lineage. Reference analog:
    none (Astn/ekati has no analytics kernels).

    Returns ``(node_id, community)``.
    """
    from pyspark.sql import Window as W

    e = _symmetrize(edges).transform(cut_lineage)
    labels = (
        e.select(F.col("u").alias("node_id"))
        .distinct()
        .select("node_id", F.col("node_id").alias("community"))
    )
    for _ in range(iterations):
        votes = (
            e.join(labels, e["v"] == labels["node_id"])
            .groupBy(e["u"], "community")
            .agg(F.count("*").alias("c"))
        )
        w = W.partitionBy("u").orderBy(F.desc("c"), F.asc("community"))
        labels = (
            votes.select(
                "u", "community", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node_id"), "community")
            .transform(cut_lineage)
        )
    return labels


def weighted_shortest_paths(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Bounded multi-source Bellman-Ford: ``(node_id, cost)`` with the
    minimum total edge cost over paths of at most ``max_hops`` edges
    from any seed (seeds at cost 0). ``edges`` is ``(src, dst, cost)``.

    Frontier-pruned relaxation (``_relax_min``): each round propagates
    only nodes whose distance improved last round (a node's unchanged
    distance was already propagated the round after it last improved,
    so pruning preserves the round-k invariant dist_k = min cost over
    <= k-edge paths). Costs stay integral (long), so min() is exact —
    no float path-sum ordering issues.
    """
    start = (
        seeds.select("node_id")
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
    )
    return _relax_min(
        edges,
        start,
        "cost",
        F.col("f.cost") + F.col("e.cost"),
        max_rounds=max_hops,
    )[0]


def earliest_arrival(
    edges: DataFrame, seeds: DataFrame, max_rounds: int = 60
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph (Holme &
    Saramäki): ``edges`` are ``(src, dst, t)`` contact events, and a
    path may leave a node only at a strictly later time than it
    arrived — the time-respecting-path semantics that static
    reachability (g22) cannot express (u→v at t=5 then v→w at t=3 is
    NOT a path).

    Label-correcting iteration (``_relax_min``): per round, expand the
    improved frontier through time-valid edges, min-merge arrivals, keep
    only nodes whose best arrival improved. Earliest-arrival dominance
    (arriving earlier never removes options) makes per-node min a safe
    prune, so the fixpoint equals the min over the full closure —
    which is what the oracle computes. State is (node, best_t) —
    O(|V|), distributed; rounds ≤ the longest strictly-time-increasing
    chain. ``max_rounds`` is a loud backstop: a chain of up to
    ``max_rounds`` contacts converges (one spare round confirms it), a
    longer one raises instead of returning partial arrivals.

    ``seeds``: ``(node_id, t0)`` rows (t0 = just before the horizon of
    interest). Returns ``(node_id, t)`` earliest arrivals incl. seeds.
    """
    best, converged = _relax_min(
        edges,
        seeds.select("node_id", F.col("t0").alias("t")),
        "t",
        F.col("e.t"),
        cond=F.col("e.t") > F.col("f.t"),
        max_rounds=max_rounds + 1,
    )
    if not converged:
        raise RuntimeError(
            f"earliest_arrival: arrivals still improving after "
            f"max_rounds={max_rounds} rounds — a time-respecting chain is "
            "longer than the budget; raise max_rounds"
        )
    return best


def k_truss(edges: DataFrame, k: int, max_iter: int = 40) -> DataFrame:
    """k-truss: the maximal subgraph whose every edge closes ≥ k-2
    triangles WITHIN the subgraph — the edge-granularity community
    core (Cohen 2008), strictly stronger than k-core's node-degree
    peel (every k-truss edge sits in a (k-1)-core, not conversely).

    ``edges``: undirected, canonical ``(u, v)`` with u < v. Iterative
    simultaneous peel: per round, count each edge's triangle support
    via the common-neighbor self-join over the current survivor set,
    drop every edge below k-2, repeat to fixpoint (the simultaneous
    peel converges to the unique maximal truss regardless of order).
    Returns the surviving ``(u, v)`` edges.

    Scale shape: support counting is the oriented triangle join (cost
    Σ deg² over the CURRENT set — shrinking every round); survivor
    state is the edge list, checkpointed per round; the driver sees
    only the per-round count. Rounds ≤ peel depth (single digits on
    real graphs); a peel still removing edges after ``max_iter`` rounds
    raises, since its edge set is a superset of the truss."""
    e = edges.select("u", "v").transform(cut_lineage)
    n = e.count()
    for _ in range(max_iter):
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        a, b = sym.alias("a"), sym.alias("b")
        supported = (
            e.alias("t")
            .join(a, F.col("a.u") == F.col("t.u"))
            .join(
                b,
                (F.col("b.u") == F.col("t.v"))
                & (F.col("b.v") == F.col("a.v")),
            )
            .groupBy(F.col("t.u").alias("u"), F.col("t.v").alias("v"))
            .agg(F.count("*").alias("s"))
            .filter(F.col("s") >= k - 2)
            .select("u", "v")
        )
        kept = e.join(supported, ["u", "v"], "left_semi").transform(
            cut_lineage
        )
        m = kept.count()
        if m == n:
            break
        e, n = kept, m
    else:
        raise RuntimeError(
            f"k_truss did not converge within {max_iter} peeling rounds"
        )
    return e


def boruvka_msf(
    edges: DataFrame, max_rounds: int = 8, jump_rounds: int = 6
) -> DataFrame:
    """Maximum spanning forest via Borůvka hooking — THE distributed
    MST algorithm (each round every component picks its best incident
    edge and components contract; ≤ log2(V) rounds, each a constant
    number of edge-keyed joins — Prim/Kruskal are inherently
    sequential and never distribute).

    ``edges`` is undirected ``(u, v, wkey)`` with DISTINCT wkey
    (max-spanning: picks the LARGEST wkey; distinct keys make the MSF
    unique, so any correct MST algorithm — e.g. the oracle's Prim
    replay — produces the identical edge set). Returns the forest
    edges ``(u, v, wkey)`` plus the final ``comp`` labels via the
    second element of the returned tuple.

    Hooking details: the per-component argmax is one ``max(struct)``
    aggregate; the hook graph (component → other endpoint's component)
    has only 2-cycles (mutual best pairs — a longer cycle would need
    equal weights), broken by pointing the smaller id at itself;
    pointer jumping (``jump_rounds`` doublings, 2^6 = 64 covers any
    chain the contraction can build at ≤ 2^max_rounds components)
    flattens every in-tree to its root in O(log chain) joins. Vertex
    state is O(V); per round cost is a handful of shuffles on comp/
    edge keys — nothing quadratic, nothing driver-side but the
    empty-frontier test."""
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    comp = nodes.select(
        "node", F.col("node").alias("comp")
    ).transform(cut_lineage)
    chosen_all = None
    hooked_all = False
    for _ in range(max_rounds):
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        ec = (
            edges.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .transform(cut_lineage)  # consumed 2x: emptiness probe + cand
        )
        if ec.limit(1).count() == 0:
            hooked_all = True
            break
        cand = ec.select(
            F.col("cu").alias("c"), "wkey", "u", "v", F.col("cv").alias("t")
        ).unionByName(
            ec.select(
                F.col("cv").alias("c"), "wkey", "u", "v",
                F.col("cu").alias("t"),
            )
        )
        best = (
            cand.groupBy("c")
            .agg(F.max(F.struct("wkey", "u", "v", "t")).alias("b"))
            .select(
                "c",
                F.col("b.wkey").alias("wkey"),
                F.col("b.u").alias("u"),
                F.col("b.v").alias("v"),
                F.col("b.t").alias("t"),
            )
            .transform(cut_lineage)  # consumed 3x: chosen + hook sides
        )
        chosen = best.select("u", "v", "wkey").distinct()
        chosen_all = (
            chosen
            if chosen_all is None
            else chosen_all.unionByName(chosen)
        )
        h2 = best.select(F.col("c").alias("t2c"), F.col("t").alias("t2t"))
        lab = (
            best.select("c", "t")
            .join(h2, F.col("t") == F.col("t2c"), "left")
            .select(
                "c",
                F.when(
                    (F.col("t2t") == F.col("c")) & (F.col("c") < F.col("t")),
                    F.col("c"),
                )
                .otherwise(F.col("t"))
                .alias("t"),
            )
        )
        for _ in range(jump_rounds):
            j = lab.select(F.col("c").alias("jc"), F.col("t").alias("jt"))
            lab = (
                lab.join(j, F.col("t") == F.col("jc"), "left")
                .select("c", F.coalesce("jt", "t").alias("t"))
                .transform(cut_lineage)
            )
        comp = (
            comp.join(
                lab.select(
                    F.col("c").alias("comp"), F.col("t").alias("newc")
                ),
                "comp",
                "left",
            )
            .select("node", F.coalesce("newc", "comp").alias("comp"))
            .transform(cut_lineage)
        )
    if not hooked_all:
        # Budget exhausted without the empty-frontier probe firing: if a
        # cross-component edge survives, the returned forest would be
        # silently non-spanning — fail loud instead. (Borůvka halves the
        # component count per round, so 2^max_rounds initial components
        # always converge; this probe guards the docstring's billion-node
        # contract against an under-sized budget.)
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        leftover = (
            edges.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        )
        if leftover.limit(1).count() > 0:
            raise RuntimeError(
                f"boruvka_msf: max_rounds={max_rounds} exhausted with "
                "cross-component edges remaining — raise max_rounds "
                "(each round halves the component count)"
            )
    if chosen_all is None:
        chosen_all = edges.select("u", "v", "wkey").limit(0)
    return chosen_all.distinct(), comp
