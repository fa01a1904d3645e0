"""Graph-surface inventory: the reference's five-operator pipeline
(get / follow / filter / skip·limit / fields — SURVEY.md §2.2) exercised
through the real traversal kernel over the FK-derived property graph
(``PropertyGraph.from_relational``), with relational DuckDB oracles
(FIXTURES.md §B: FK edges double as traversal ground truth).

Node ids are ``<table>:<key>`` strings, so oracles express traversals as
joins + string concat.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ekati_spark.checkpoint import cut_lineage
from ekati_spark.driverside import local_rows_df

from ekati_spark.catalog import load_table
from ekati_spark.graph.model import PropertyGraph
from ekati_spark.graph.traverse import Any, Edge, Or, follow
from ekati_spark.scratch import mkscratch
from ekati_spark.session_store import get_or_build
from ekati_spark.queries.base import register


# One FK-graph per (session, sf_dir), edges persisted with the
# from_relational layout, hash-partitioned on dst, so a traversal's hops
# and materialization read them with no Exchange (graph/traverse.py): a
# deployment materializes its edge table once; re-deriving the 7-way
# union-of-scans per query re-reads lineitem 3× per hop. MEMORY_AND_DISK
# spills safely. Filled at build, so the store's build cost is its own
# and not the first reader's.
def _graph(spark, sf_dir) -> PropertyGraph:
    def build() -> PropertyGraph:
        g = PropertyGraph.from_relational(spark, sf_dir)
        g.edges = g.edges.persist()
        g.edges.count()
        return g

    return get_or_build(
        spark, "fk_graph", sf_dir, build, lambda g: g.edges.unpersist()
    )


def _seed(spark, ids):
    return local_rows_df(
        spark, [(i,) for i in ids], "node_id string"
    )


@register(
    "g01_follow_one_hop",
    oracle="""
    SELECT DISTINCT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id
    FROM orders WHERE o_custkey <= 10
    """,
)
def g01_follow_one_hop(spark, sf_dir):
    """get <customers 1..10> |> follow "placed" 1 — named single-hop."""
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 10).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    return follow(g.edges, seeds, Edge("placed", 1, 1))


@register(
    "g02_follow_two_hop",
    oracle="""
    SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id
    FROM orders WHERE o_custkey <= 5
    UNION
    SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
           CAST(l_linenumber AS VARCHAR)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey <= 5
    """,
)
def g02_follow_two_hop(spark, sf_dir):
    """follow ("placed" 1 || "contains" 2): orders then their lineitems."""
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 5).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    spec = Or(Edge("placed", 1, 1), Edge("contains", 2, 2))
    return follow(g.edges, seeds, spec)


@register(
    "g03_follow_any_range",
    oracle="""
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
    FROM customer WHERE c_custkey <= 3
    UNION
    SELECT 'order:' || CAST(o_orderkey AS VARCHAR)
    FROM orders WHERE o_custkey <= 3
    UNION
    SELECT 'nation:' || CAST(c_nationkey AS VARCHAR)
    FROM customer WHERE c_custkey <= 3
    UNION
    SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
           CAST(l_linenumber AS VARCHAR)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey <= 3
    UNION
    SELECT DISTINCT 'region:' || CAST(n_regionkey AS VARCHAR)
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE c_custkey <= 3
    """,
)
def g03_follow_any_range(spark, sf_dir):
    """follow * 0..2 — any-edge traversal incl. the seeds (hop 0)."""
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 3).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    return follow(g.edges, seeds, Any(0, 2))


@register(
    "g04_follow_label_windows",
    oracle="""
    SELECT DISTINCT 'nation:' || CAST(c_nationkey AS VARCHAR) AS node_id
    FROM customer WHERE c_custkey <= 20
    UNION
    SELECT DISTINCT 'region:' || CAST(n_regionkey AS VARCHAR)
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE c_custkey <= 20
    """,
)
def g04_follow_label_windows(spark, sf_dir):
    """follow ("in_nation" 1 || "in_region" 2) — per-label hop windows."""
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 20).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    spec = Or(Edge("in_nation", 1, 1), Edge("in_region", 2, 2))
    return follow(g.edges, seeds, spec)


@register(
    "g05_filter_then_follow",
    oracle="""
    SELECT DISTINCT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def g05_filter_then_follow(spark, sf_dir):
    """get * |> filter "mktsegment" == "BUILDING" |> follow "placed" 1.

    Implements the reference's *intended* filter semantics (attribute
    exists with key and comparing value — not the self-compare defect,
    FileStore.fs:147; SURVEY §2 #12).
    """
    g = _graph(spark, sf_dir)
    seeds = (
        g.props.filter(
            (F.col("key") == "mktsegment") & (F.col("str") == "BUILDING")
        )
        .select("node_id")
        .distinct()
    )
    return follow(g.edges, seeds, Edge("placed", 1, 1))


@register(
    "g06_fields_projection",
    oracle="""
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id,
           'name' AS key, c_name AS value_str
    FROM customer WHERE c_custkey <= 25
    UNION ALL
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'mktsegment',
           c_mktsegment
    FROM customer WHERE c_custkey <= 25
    """,
)
def g06_fields_projection(spark, sf_dir):
    """fields ("name":*, "mktsegment":*) — include-clude projection
    (SURVEY §2 #15) as a row filter on the long-format props."""
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 25).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    return (
        g.props.join(seeds, "node_id", "left_semi")
        .filter(F.col("key").isin(["name", "mktsegment"]))
        .select("node_id", "key", F.col("str").alias("value_str"))
    )


@register(
    "g07_skip_limit",
    oracle="""
    SELECT node_id FROM (
      SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
      FROM customer
    ) ORDER BY node_id LIMIT 10 OFFSET 10
    """,
)
def g07_skip_limit(spark, sf_dir):
    """get * |> skip 10 |> take 10 under the canonical node_id ordering
    (the deterministic-order policy of SURVEY §5d)."""
    g = _graph(spark, sf_dir)
    custs = g.nodes().filter(F.col("node_id").startswith("customer:"))
    return custs.orderBy("node_id").offset(10).limit(10)


@register(
    "g08_reverse_traversal",
    oracle="""
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
    FROM customer WHERE c_nationkey = 3
    UNION
    SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR)
    FROM supplier WHERE s_nationkey = 3
    """,
)
def g08_reverse_traversal(spark, sf_dir):
    """In-edge traversal: who points at nation:3 (reversed graph)."""
    g = _graph(spark, sf_dir).reversed()
    seeds = _seed(spark, ["nation:3"])
    return follow(g.edges, seeds, Edge("in_nation", 1, 1))


@register(
    "g09_degrees",
    oracle="""
    SELECT 'customer:' || CAST(o_custkey AS VARCHAR) AS node_id,
           CAST(count(*) AS BIGINT) AS out_degree
    FROM orders GROUP BY o_custkey
    """,
)
def g09_degrees(spark, sf_dir):
    """Out-degree of customer nodes (edge-count aggregation)."""
    g = _graph(spark, sf_dir)
    return (
        g.edges.filter(
            (F.col("label") == "placed")
            & F.col("src").startswith("customer:")
        )
        .groupBy(F.col("src").alias("node_id"))
        .agg(F.count("*").alias("out_degree"))
    )


@register(
    "g10_cycle_dedup",
    oracle="""
    SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
    FROM customer WHERE c_nationkey = 7
    """,
)
def g10_cycle_dedup(spark, sf_dir):
    """Traversal over a bidirectional (cyclic) graph: seed nation:7 →
    customers (hop 1) → back to nation:7 (hop 2, suppressed by the
    query-wide visited set — the reference's bloom-dedup behavior,
    Tests.fs:882-900, made exact)."""
    g = _graph(spark, sf_dir)
    bidir = g.edges.unionByName(
        g.edges.select(
            F.col("dst").alias("src"),
            F.concat(F.lit("rev_"), F.col("label")).alias("label"),
            F.col("src").alias("dst"),
            "ts",
        )
    )
    seeds = _seed(spark, ["nation:7"])
    spec = Or(Edge("rev_in_nation", 1, 1), Edge("in_nation", 2, 2))
    out = follow(bidir, seeds, spec)
    # only customer nodes reach nation:7 via rev_in_nation at hop 1 …
    # suppliers too — restrict to customers for a compact oracle.
    return out.filter(F.col("node_id").startswith("customer:"))


@register(
    "g11_latest_version",
    oracle="""
    SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey <= 300
    """,
)
def g11_latest_version(spark, sf_dir):
    """Last-write-wins view over versioned attributes (SURVEY §1.4,
    Printers.cs:139-169): ts=1 writes 'v1', ts=2 writes the real status;
    the latest view must return the ts=2 value."""
    ords = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    nid = F.concat(F.lit("order:"), F.col("o_orderkey").cast("string"))

    def row(ts, val):
        return ords.select(
            nid.alias("node_id"),
            F.lit("").alias("remote"),
            F.lit("status").alias("key"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit("str").alias("dtype"),
            val.alias("str"),
            F.lit(None).cast("long").alias("i64"),
            F.lit(None).cast("double").alias("dbl"),
            F.lit(None).cast("boolean").alias("bool"),
            F.lit(None).cast("string").alias("ref"),
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("string").alias("meta_type"),
            F.lit(None).cast("string").alias("meta_lang"),
        )

    props = row(1, F.lit("v1")).unionByName(row(2, F.col("o_orderstatus")))
    g = PropertyGraph(props)
    return g.latest().select("node_id", F.col("str").alias("status"))


@register(
    "g12_multi_valued_keys",
    oracle="""
    SELECT 'order:' || CAST(l_orderkey AS VARCHAR) AS node_id,
           CAST(count(*) AS BIGINT) AS n_contains
    FROM lineitem GROUP BY l_orderkey
    """,
)
def g12_multi_valued_keys(spark, sf_dir):
    """Attributes are a multimap: the same key repeats (SURVEY §1.1,
    Tests.fs:200-205) — count 'contains' edges per order node."""
    g = _graph(spark, sf_dir)
    return (
        g.edges.filter(F.col("label") == "contains")
        .groupBy(F.col("src").alias("node_id"))
        .agg(F.count("*").alias("n_contains"))
    )


_PR_EDGES_SQL = """
      SELECT 'customer:' || CAST(o_custkey AS VARCHAR) AS src,
             'order:' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
      UNION ALL
      SELECT 'order:' || CAST(l_orderkey AS VARCHAR),
             'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
             CAST(l_linenumber AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
             CAST(l_linenumber AS VARCHAR),
             'part:' || CAST(l_partkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
             CAST(l_linenumber AS VARCHAR),
             'supplier:' || CAST(l_suppkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'customer:' || CAST(c_custkey AS VARCHAR),
             'nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
      UNION ALL
      SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             'nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
      UNION ALL
      SELECT 'nation:' || CAST(n_nationkey AS VARCHAR),
             'region:' || CAST(n_regionkey AS VARCHAR) FROM nation
"""

_PR_STEP_SQL = """
    s{k} AS (
      SELECT e.dst, SUM(p.rank / d.deg) AS in_sum
      FROM pr{j} p JOIN e ON p.node_id = e.src JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr{k} AS (
      SELECT v.node_id,
             0.15 / (SELECT n FROM nn) +
             0.85 * COALESCE(s{k}.in_sum, 0.0) AS rank
      FROM v LEFT JOIN s{k} ON v.node_id = s{k}.dst
    )
"""


@register(
    "g13_pagerank",
    oracle="WITH e AS (" + _PR_EDGES_SQL + """
    ),
    v AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
    pr0 AS (SELECT node_id, 1.0 / (SELECT n FROM nn) AS rank FROM v),
    """
    + ",".join(_PR_STEP_SQL.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
    SELECT node_id, round(rank, 6) AS rank FROM pr3
    """,
)
def g13_pagerank(spark, sf_dir):
    """PageRank (3 supersteps, d=0.85, no dangling redistribution) over
    the full FK graph — Pregel-style DataFrame iteration
    (graph/algorithms.py); the oracle unrolls the same three steps as
    chained SQL CTEs. Ranks rounded to 6 decimals on both sides."""
    from ekati_spark.graph.algorithms import page_rank

    g = _graph(spark, sf_dir)
    pr = page_rank(g.edges, iterations=3, damping=0.85)
    return pr.select("node_id", F.round("rank", 6).alias("rank"))


@register(
    "g14_connected_components",
    oracle="""
    WITH members AS (
      SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS comp_key,
             'region:' || CAST(r_regionkey AS VARCHAR) AS node_id FROM region
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'customer:' || CAST(c_custkey AS VARCHAR)
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'supplier:' || CAST(s_suppkey AS VARCHAR)
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    lab AS (SELECT comp_key, min(node_id) AS component
            FROM members GROUP BY comp_key)
    SELECT m.node_id, l.component
    FROM members m JOIN lab l ON m.comp_key = l.comp_key
    """,
)
def g14_connected_components(spark, sf_dir):
    """Weakly connected components (min-label propagation) on the
    geography subgraph (in_nation/in_region edges) — one component per
    region tree; the oracle derives each tree's min-label directly from
    the FK schema."""
    from ekati_spark.graph.algorithms import connected_components

    g = _graph(spark, sf_dir)
    geo = g.edges.filter(F.col("label").isin("in_nation", "in_region"))
    return connected_components(geo, max_iter=6)


@register(
    "g15_shortest_hops",
    oracle="""
    WITH h0 AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
                FROM customer WHERE c_custkey <= 3),
    h1 AS (
      SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id
      FROM orders WHERE o_custkey <= 3
      UNION
      SELECT DISTINCT 'nation:' || CAST(c_nationkey AS VARCHAR)
      FROM customer WHERE c_custkey <= 3
    ),
    h2 AS (
      SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
             CAST(l_linenumber AS VARCHAR) AS node_id
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey <= 3
      UNION
      SELECT DISTINCT 'region:' || CAST(n_regionkey AS VARCHAR)
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE c_custkey <= 3
    ),
    h3 AS (
      SELECT DISTINCT 'part:' || CAST(l_partkey AS VARCHAR) AS node_id
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey <= 3
      UNION
      SELECT DISTINCT 'supplier:' || CAST(l_suppkey AS VARCHAR)
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey <= 3
    )
    SELECT node_id, 0 AS hops FROM h0
    UNION ALL SELECT node_id, 1 FROM h1
    UNION ALL SELECT node_id, 2 FROM h2
    UNION ALL SELECT node_id, 3 FROM h3
    """,
)
def g15_shortest_hops(spark, sf_dir):
    """Multi-source BFS shortest hop counts (seeds: customers 1-3, 3
    hops). Min-hop per node falls out of BFS visit order; the oracle
    enumerates each hop level from the FK schema (levels are disjoint by
    node-id prefix)."""
    from ekati_spark.graph.algorithms import shortest_hops

    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 3).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    return shortest_hops(g.edges, seeds, max_hops=3)


@register(
    "g16_motif_supply_path",
    oracle="""
    SELECT DISTINCT 'customer:' || CAST(o_custkey AS VARCHAR) AS c,
           'order:' || CAST(o_orderkey AS VARCHAR) AS o,
           'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
           CAST(l_linenumber AS VARCHAR) AS l,
           'supplier:' || CAST(l_suppkey AS VARCHAR) AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey <= 20
    """,
)
def g16_motif_supply_path(spark, sf_dir):
    """Motif find: (c)-[placed]->(o); (o)-[contains]->(l);
    (l)-[from_supplier]->(s) — GraphFrames-style pattern compiled to a
    join chain (graph/motif.py), restricted to customers 1-20.

    DISTINCT on both sides: the synthetic lineitem key (orderkey,
    linenumber) is not unique, so the FK graph is a multigraph — find()
    matches per edge *instance* (k² paths through a k-duplicated node)
    while the oracle joins physical rows (k); distinct paths agree."""
    from ekati_spark.graph.motif import find

    g = _graph(spark, sf_dir)
    m = find(
        g.edges,
        "(c)-[placed]->(o); (o)-[contains]->(l); (l)-[from_supplier]->(s)",
    )
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 20).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("c")
    )
    return m.join(seeds, "c").distinct()


@register(
    "g17_triangle_count",
    oracle="""
    WITH cn AS (SELECT c_custkey, c_nationkey FROM customer
                WHERE c_custkey <= 300),
         sn AS (SELECT s_suppkey, s_nationkey FROM supplier)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM cn JOIN sn ON c_nationkey = s_nationkey
    """,
)
def g17_triangle_count(spark, sf_dir):
    """Join-based triangle counting (canonical a<b<c orientation) on a
    graph where every (customer, supplier, shared nation) closes a
    triangle, so the expected count is exactly |{(c,s): same nation}|."""
    from ekati_spark.graph.motif import triangle_count

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 300
    )
    supp = load_table(spark, sf_dir, "supplier")
    cn = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
        F.col("c_nationkey").alias("nk"),
    )
    sn = supp.select(
        F.concat(F.lit("supplier:"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("s_nationkey").cast("string")).alias("dst"),
        F.col("s_nationkey").alias("nk"),
    )
    cs = cn.select(F.col("src").alias("c_id"), "nk").join(
        sn.select(F.col("src").alias("s_id"), "nk"), "nk"
    ).select(F.col("c_id").alias("src"), F.col("s_id").alias("dst"))
    edges = (
        cn.select("src", "dst")
        .unionByName(sn.select("src", "dst"))
        .unionByName(cs)
    )
    return triangle_count(edges)


@register(
    "g18_asof_snapshot",
    oracle="""
    WITH versions AS (
      SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id,
             'status' AS key, v.ts,
             CASE v.ts WHEN 1 THEN 'created'
                       WHEN 2 THEN 'processing'
                       ELSE o_orderstatus END AS value_str
      FROM orders
      CROSS JOIN (VALUES (1), (2), (3)) AS v(ts)
      WHERE o_orderkey <= 200
    )
    SELECT node_id, key, value_str
    FROM (
      SELECT node_id, key, value_str,
             row_number() OVER (PARTITION BY node_id, key
                                ORDER BY ts DESC) AS rn
      FROM versions WHERE ts <= 2
    ) WHERE rn = 1
    """,
)
def g18_asof_snapshot(spark, sf_dir):
    """Temporal as-of view (SURVEY §1.4): the store keeps every attribute
    version; `latest(as_of=T)` = last-write-wins over rows with ts ≤ T.
    Three synthetic versions per order-status attribute; snapshot at T=2
    must return 'processing', not the ts=3 value."""
    ords = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    nid = F.concat(F.lit("order:"), F.col("o_orderkey").cast("string"))

    def ver(ts, val):
        return ords.select(
            nid.alias("node_id"),
            F.lit("").alias("remote"),
            F.lit("status").alias("key"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit("str").alias("dtype"),
            val.alias("str"),
            F.lit(None).cast("long").alias("i64"),
            F.lit(None).cast("double").alias("dbl"),
            F.lit(None).cast("boolean").alias("bool"),
            F.lit(None).cast("string").alias("ref"),
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("string").alias("meta_type"),
            F.lit(None).cast("string").alias("meta_lang"),
        )

    props = (
        ver(1, F.lit("created"))
        .unionByName(ver(2, F.lit("processing")))
        .unionByName(ver(3, F.col("o_orderstatus")))
    )
    g = PropertyGraph(props)
    snap = PropertyGraph(g.props.filter(F.col("ts") <= 2)).latest()
    return snap.select("node_id", "key", F.col("str").alias("value_str"))


@register(
    "g19_connected_components_star",
    oracle="""
    WITH members AS (
      SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS comp_key,
             'region:' || CAST(r_regionkey AS VARCHAR) AS node_id FROM region
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'customer:' || CAST(c_custkey AS VARCHAR)
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT 'region:' || CAST(n_regionkey AS VARCHAR),
             'supplier:' || CAST(s_suppkey AS VARCHAR)
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    lab AS (SELECT comp_key, min(node_id) AS component
            FROM members GROUP BY comp_key)
    SELECT m.node_id, l.component
    FROM members m JOIN lab l ON m.comp_key = l.comp_key
    """,
)
def g19_connected_components_star(spark, sf_dir):
    """Connected components via alternating small-star/large-star
    contraction (O(log² n) rounds, diameter-independent — the 100 TB
    path-shaped-graph variant of g14). Same oracle as g14: one component
    per region tree."""
    from ekati_spark.graph.algorithms import connected_components_star

    g = _graph(spark, sf_dir)
    geo = g.edges.filter(F.col("label").isin("in_nation", "in_region"))
    return connected_components_star(geo)


@register(
    "g20_kcore",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 'part:' || CAST(l_partkey AS VARCHAR) AS src,
                      'supp:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem
    ),
    sym AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM base
        UNION ALL
        SELECT dst AS u, src AS v FROM base
      ) WHERE u <> v
    ),
    -- peel to fixpoint: each iteration re-emits the FULL surviving edge
    -- set; the EXISTS guard stops recursion once no node is below k, so
    -- the max-iter rows are the fixpoint. (Valid when the k-core is
    -- nonempty, which holds for this graph; the empty-core edge case is
    -- pinned by the known-graph pytest on the Spark side.)
    core(iter, u, v) AS (
      SELECT 0, u, v FROM sym
      UNION ALL
      SELECT c.iter + 1, c.u, c.v
      FROM core c
      JOIN (SELECT u FROM core GROUP BY u HAVING count(*) >= 3) ku
        ON c.u = ku.u
      JOIN (SELECT u AS v FROM core GROUP BY u HAVING count(*) >= 3) kv
        ON c.v = kv.v
      WHERE c.iter < 60
        AND EXISTS (SELECT 1 FROM core GROUP BY u HAVING count(*) < 3)
    ),
    last AS (
      SELECT u, v FROM core WHERE iter = (SELECT max(iter) FROM core)
    )
    SELECT u AS node_id, CAST(count(*) AS BIGINT) AS degree
    FROM last GROUP BY u
    """,
)
def g20_kcore(spark, sf_dir):
    """k-core (k=3) of the part↔supplier co-occurrence graph from
    lineitem: iterative degree peeling to fixpoint
    (graph/algorithms.k_core). Oracle: DuckDB WITH RECURSIVE replay of
    the peel — each round re-emits the surviving edge set and stops at
    the no-low-degree-node fixpoint; exact empty-core semantics are
    pinned by the known-graph pytest
    (tests/test_algorithms.py::test_k_core_known_graph)."""
    from ekati_spark.graph.algorithms import k_core

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("supp:"), F.col("l_suppkey").cast("string")).alias(
            "dst"
        ),
    ).distinct()
    return k_core(edges, k=3)


_LPA_STEP_SQL = """
    l{k} AS (
      SELECT node_id, community FROM (
        SELECT e.u AS node_id, l.community,
               row_number() OVER (PARTITION BY e.u
                 ORDER BY count(*) DESC, l.community) AS rn
        FROM e JOIN l{j} l ON e.v = l.node_id
        GROUP BY e.u, l.community
      ) WHERE rn = 1
    )"""


@register(
    "g21_label_propagation",
    oracle="""
    WITH e0 AS (
      SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS src,
             'nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
      UNION ALL
      SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR),
             'nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
      UNION ALL
      SELECT 'nation:' || CAST(n_nationkey AS VARCHAR),
             'region:' || CAST(n_regionkey AS VARCHAR) FROM nation
    ),
    e AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM e0
        UNION ALL SELECT dst, src FROM e0
      ) both_dirs WHERE u <> v
    ),
    l0 AS (SELECT DISTINCT u AS node_id, u AS community FROM e),
    """
    + ",".join(_LPA_STEP_SQL.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
    SELECT node_id, community FROM l3
    """,
)
def g21_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (3 supersteps,
    min-label tie-break) over the geography subgraph; the oracle
    unrolls the same three supersteps as chained SQL CTEs, exactly as
    g13 does for PageRank."""
    from ekati_spark.graph.algorithms import label_propagation

    g = _graph(spark, sf_dir)
    geo = g.edges.filter(F.col("label").isin("in_nation", "in_region"))
    return label_propagation(geo, iterations=3)


def _trade_partners(spark, sf_dir, top: int = 3):
    """Ranked nation trade edges: (src, dst, rk) where dst is among
    src's top-``top`` customer nations by lineitem count (deterministic
    tie-break on dst). One aggregation shuffle over lineitem; the
    result is nation-cardinality-sized."""
    from pyspark.sql import Window as W

    li, su, od, cu = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "supplier", "orders", "customer")
    )
    pair = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    rk = F.row_number().over(
        W.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    )
    return pair.select("src", "dst", rk.alias("rk")).filter(
        F.col("rk") <= top
    )


# Shared by the Spark query and the DuckDB oracle: Spark 4 supports
# SQL:1999 WITH RECURSIVE (UNION ALL + depth guard), so the text is
# identical in both engines. The trade graph is sparsified to each
# nation's top-3 export partners so the BFS has non-trivial depth.
_TRADE_REACH_SQL = """
    WITH RECURSIVE
    pair AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
                 AS rk
        FROM pair) t
      WHERE rk <= 3
    ),
    reach(nation, depth) AS (
      SELECT CAST(0 AS INTEGER) AS nation, 0 AS depth
      UNION ALL
      SELECT e.dst, r.depth + 1
      FROM reach r JOIN edges e ON e.src = r.nation
      WHERE r.depth < 4
    )
    SELECT nation, CAST(min(depth) AS BIGINT) AS hops
    FROM reach GROUP BY nation
"""


@register("g22_trade_reachability", oracle=_TRADE_REACH_SQL)
def g22_trade_reachability(spark, sf_dir):
    """Bounded BFS reachability over the nation trade graph via SQL
    WITH RECURSIVE (reference analog: `follow * 4` over a derived edge
    set, FileStore.fs traversal loop). Edge rule: nation A -> B if B is
    among A's top-3 customer nations by lineitem count (deterministic
    tie-break on dst). The recursion enumerates paths (out-degree <= 3,
    depth <= 4 => <= 121 rows from one seed) and the outer aggregate
    takes min depth — the UNION ALL + guard pattern both Spark 4 and
    DuckDB execute identically. At scale the heavy part is the `pair`
    aggregation (one shuffle over lineitem); the recursion itself runs
    on a 25-node edge list, which the Spark side materializes
    (persist + temp view) so the recursive loop re-reads a cached
    25-row relation instead of re-running the 4-way join every
    iteration — the oracle keeps the single-statement form."""
    edges = _trade_partners(spark, sf_dir).select("src", "dst").persist()
    edges.createOrReplaceTempView("trade_edges")
    return spark.sql(
        """
        WITH RECURSIVE
        reach(nation, depth) AS (
          SELECT CAST(0 AS INTEGER) AS nation, 0 AS depth
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN trade_edges e ON e.src = r.nation
          WHERE r.depth < 4
        )
        SELECT nation, CAST(min(depth) AS BIGINT) AS hops
        FROM reach GROUP BY nation
        """
    )


@register(
    "g23_cheapest_trade_route",
    oracle="""
    WITH pair AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    e AS (
      SELECT src, dst, CAST(rk AS BIGINT) AS cost FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
                 AS rk
        FROM pair) t
      WHERE rk <= 3
    ),
    p1 AS (SELECT dst, cost FROM e WHERE src = 0),
    p2 AS (SELECT e.dst, p1.cost + e.cost AS cost
           FROM p1 JOIN e ON e.src = p1.dst),
    p3 AS (SELECT e.dst, p2.cost + e.cost AS cost
           FROM p2 JOIN e ON e.src = p2.dst),
    allp AS (
      SELECT CAST(0 AS INTEGER) AS dst, CAST(0 AS BIGINT) AS cost
      UNION ALL SELECT dst, cost FROM p1
      UNION ALL SELECT dst, cost FROM p2
      UNION ALL SELECT dst, cost FROM p3
    )
    SELECT dst AS nation, min(cost) AS cost FROM allp GROUP BY dst
    """,
)
def g23_cheapest_trade_route(spark, sf_dir):
    """Min-cost trade route from nation 0 within 3 hops (bounded
    multi-source Bellman-Ford, graph/algorithms.py::
    weighted_shortest_paths) over the top-3-partner trade graph of g22,
    edge cost = partner rank 1..3. The oracle enumerates all <= 3-edge
    paths (out-degree <= 3 keeps that exact enumeration tiny) and takes
    the min — the kernel must match it exactly because costs are
    integral."""
    from ekati_spark.graph.algorithms import weighted_shortest_paths

    edges = _trade_partners(spark, sf_dir).select(
        "src", "dst", F.col("rk").cast("long").alias("cost")
    )
    seeds = spark.createDataFrame([(0,)], "node_id int")
    return weighted_shortest_paths(edges, seeds, max_hops=3).select(
        F.col("node_id").alias("nation"), "cost"
    )


@register(
    "g24_cosupplier_graph",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                FROM lineitem),
    psc AS (SELECT p, s FROM (
              SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s) AS rn
              FROM ps)
            WHERE rn <= 32)
    SELECT a.s AS supp_a, b.s AS supp_b,
           CAST(count(*) AS BIGINT) AS shared_parts
    FROM psc a JOIN psc b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def g24_cosupplier_graph(spark, sf_dir):
    """Bipartite projection: the supplier co-supply graph (suppliers
    linked by >= 3 shared parts). One distinct pass over lineitem, one
    self-equi-join on the part key (canonical a < b orientation so each
    pair counts once), one count aggregate. Projection cost is sum over
    parts of (suppliers-per-part)^2 — hub parts dominate — so each
    part's supplier list is CAPPED at the ``_CP_PART_CAP`` smallest
    suppkeys first (deterministic row_number over (p ORDER BY s),
    replayed verbatim in the oracle's psc CTE; binds on real data at
    sf0.01, max suppliers-per-part 41), bounding per-part pair fan-out
    at 496 no matter the hub. The s<t predicate rides on the equi-join
    on p, so no nested-loop pair enumeration happens."""
    from pyspark.sql import Window as _W

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    ps = (
        ps.withColumn(
            "rn", F.row_number().over(_W.partitionBy("p").orderBy("s"))
        )
        .filter(F.col("rn") <= _CP_PART_CAP)
        .drop("rn")
    )
    a, b = ps.alias("a"), ps.alias("b")
    return (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(
            F.col("a.s").alias("supp_a"), F.col("b.s").alias("supp_b")
        )
        .agg(F.count("*").alias("shared_parts"))
        .filter(F.col("shared_parts") >= 3)
    )


_PPR_STEP_SQL = """
    s{k} AS (
      SELECT e.dst,
             CAST(SUM(CAST(p.rank / d.deg AS DECIMAL(25,18))) AS DOUBLE)
               AS in_sum
      FROM pr{j} p JOIN e ON p.node_id = e.src JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr{k} AS (
      SELECT b.node_id,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * b.reset
               + CAST(0.85 AS DOUBLE) * COALESCE(s{k}.in_sum, 0.0) AS rank
      FROM base b LEFT JOIN s{k} ON b.node_id = s{k}.dst
    )
"""
# (1.0 - 0.85) under explicit DOUBLE casts, NOT the literal 0.15: the
# kernel computes its teleport coefficient as IEEE 1.0 - damping
# (= 0.15000000000000002, one ulp above 0.15), while DuckDB both reads
# bare 1.0/0.85 literals as DECIMALs and constant-folds their difference
# exactly. At sf0.001 that ulp lands ranks exactly on the 6th-decimal
# half boundary (0.85/160) and the two sides rounded apart. Forcing
# DOUBLE literals replays the kernel's op sequence bit-identically.


@register(
    "g25_personalized_pagerank",
    oracle="WITH e AS (" + _PR_EDGES_SQL + """
    ),
    v AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
    seeds AS (SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS node_id
              FROM customer WHERE c_custkey <= 3),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
    base AS (
      SELECT v.node_id,
             CASE WHEN s.node_id IS NOT NULL THEN 1.0 / (SELECT n FROM ns)
                  ELSE 0.0 END AS reset
      FROM v LEFT JOIN seeds s ON v.node_id = s.node_id
    ),
    pr0 AS (SELECT node_id, reset AS rank FROM base),
    """
    + ",".join(_PPR_STEP_SQL.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
    SELECT node_id, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM pr3
    WHERE floor(rank * 1000000 + 0.5) / 1000000 > 0
    """,
)
def g25_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from customers 1-3 (3 supersteps, d=0.85):
    teleport mass returns to the seed set, scoring relevance-to-seeds
    (graph/algorithms.py::personalized_page_rank). The oracle unrolls
    the same supersteps with the reset vector as a CASE column; both
    sides round to 6 decimals and keep only touched nodes (rank > 0 —
    unreached nodes are exactly 0.0 in both engines, no float
    ambiguity). Contribution sums use decimal accumulation (dsum
    policy) so in_sum is partition-order independent. Rounding is the
    explicit floor(x*1e6 + 0.5)/1e6 on BOTH sides — engine round()
    tie policies differ (Spark HALF_UP vs DuckDB half-even) and tiny
    graphs (sf0.001) produce terminating rationals that land exactly
    on the 6th-decimal half boundary (0.85/160 = 0.0053125); the same
    IEEE op sequence is bit-identical wherever the double lands."""
    from ekati_spark.graph.algorithms import personalized_page_rank

    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 3).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    pr = personalized_page_rank(g.edges, seeds, iterations=3, damping=0.85)
    rank6 = F.floor(F.col("rank") * 1000000 + F.lit(0.5)) / 1000000
    return (
        pr.select("node_id", rank6.alias("rank"))
        .filter(F.col("rank") > 0)
    )


@register(
    "g26_graph_stats",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM orders)
         + (SELECT count(*) FROM supplier) + (SELECT count(*) FROM nation)
         + (SELECT count(*) FROM region) AS BIGINT) AS n_nodes,
      CAST(4 * (SELECT count(*) FROM customer)
         + 4 * (SELECT count(*) FROM orders)
         + 2 * (SELECT count(*) FROM supplier)
         + 2 * (SELECT count(*) FROM nation)
         + 2 * (SELECT count(*) FROM region) AS BIGINT) AS n_attr_rows,
      CAST((SELECT count(*) FROM orders) + 3 * (SELECT count(*) FROM lineitem)
         + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
         + (SELECT count(*) FROM nation) AS BIGINT) AS n_edges,
      CAST(6 AS BIGINT) AS n_edge_labels
    """,
)
def g26_graph_stats(spark, sf_dir):
    """Engine stats surface (``GetStats``/``ListStats`` RPC parity,
    reference ``types.proto:235-238``, ``src/core/Metrics.fs``): one-row
    corpus totals from ``PropertyGraph.stats()`` over the FK graph. The
    oracle derives the same totals from the base tables: props exist for
    customer/orders/supplier/nation/region (4/4/2/2/2 attrs each); edges
    are placed + 3 per lineitem (contains/of_part/from_supplier) +
    customer/supplier in_nation + nation in_region, 6 labels total."""
    return _graph(spark, sf_dir).stats()


@register(
    "g27_edge_label_histogram",
    oracle="""
    SELECT 'contains' AS label,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_edges
    UNION ALL
    SELECT 'from_supplier', CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'in_nation',
           CAST((SELECT count(*) FROM customer)
              + (SELECT count(*) FROM supplier) AS BIGINT)
    UNION ALL
    SELECT 'in_region', CAST((SELECT count(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'of_part', CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'placed', CAST((SELECT count(*) FROM orders) AS BIGINT)
    """,
)
def g27_edge_label_histogram(spark, sf_dir):
    """Edge histogram by label — the per-relationship half of the stats
    surface (g26 has the totals): one groupBy over the persisted edge
    table. The oracle derives each label's count from its FK origin
    (contains/of_part/from_supplier are one per lineitem row, placed one
    per order, in_nation one per customer+supplier, in_region one per
    nation)."""
    return (
        _graph(spark, sf_dir)
        .edges.groupBy("label")
        .agg(F.count("*").alias("n_edges"))
    )


@register(
    "g29_follow_asof",
    oracle="""
    WITH agg AS (
      SELECT o_custkey, min(o_orderkey) AS mn, max(o_orderkey) AS mx
      FROM orders WHERE o_custkey <= 100 GROUP BY o_custkey
    )
    SELECT CAST(1 AS BIGINT) AS as_of,
           'order:' || CAST(mn AS VARCHAR) AS node_id FROM agg
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'order:' || CAST(mx AS VARCHAR) FROM agg
    """,
)
def g29_follow_asof(spark, sf_dir):
    """Temporal traversal: `follow` over the graph AS OF a timestamp —
    the composition of the reference's versioned-attribute axis
    (`TMD.Timestamp`, SURVEY §1.4 / `Types.fs`) with its traversal
    operator (`FileStore.fs:166-220`): the edge set an as-of-T hop sees
    is the last-write-wins view of ts ≤ T ref attributes. Each
    customer's `latest_order` edge has two versions (ts=1 → first
    order, ts=2 → latest order); traversing at T=1 must reach the
    first-order nodes, at T=2 the retargeted ones. The snapshot filter
    is a partition-local window over (node, key) — at 100 TB the same
    one shuffle `latest()` already costs; the traversal itself is
    unchanged `follow` machinery (per-hop checkpoint, pushdown, AQE
    frontier broadcast).
    """
    ords = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    agg = ords.groupBy("o_custkey").agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    )
    cust_id = F.concat(F.lit("cust:"), F.col("o_custkey").cast("string"))

    def ver(ts: int, target) -> DataFrame:
        return agg.select(
            cust_id.alias("node_id"),
            F.lit("").alias("remote"),
            F.lit("latest_order").alias("key"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit("ref").alias("dtype"),
            F.lit(None).cast("string").alias("str"),
            F.lit(None).cast("long").alias("i64"),
            F.lit(None).cast("double").alias("dbl"),
            F.lit(None).cast("boolean").alias("bool"),
            F.concat(F.lit("order:"), target.cast("string")).alias("ref"),
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("string").alias("meta_type"),
            F.lit(None).cast("string").alias("meta_lang"),
        )

    props = ver(1, F.col("mn")).unionByName(ver(2, F.col("mx")))
    seeds = agg.select(cust_id.alias("node_id"))
    out = None
    for t in (1, 2):
        snap = PropertyGraph(props.filter(F.col("ts") <= t)).latest()
        edges = snap.filter(F.col("dtype") == "ref").select(
            F.col("node_id").alias("src"),
            F.col("key").alias("label"),
            F.col("ref").alias("dst"),
            F.col("ts"),
        )
        reached = follow(edges, seeds, Edge("latest_order", 1, 1)).select(
            F.lit(t).cast("long").alias("as_of"), "node_id"
        )
        out = reached if out is None else out.unionByName(reached)
    return out


# Per-part neighborhood cap for the customer co-purchase projection
# (g30/g31/g33/g34/g36-g40/g43/g44). The projection pairs customers
# within each part's buyer set, so a part bought by d customers emits
# d(d-1)/2 pairs — a popular part is a QUADRATIC hot key (the round-11
# verdict's scale-killer finding). The guard is deterministic
# neighborhood sampling (DISCO maxN / DIMSUM-style frequency ceiling):
# keep each part's 32 smallest custkeys, bounding per-part pair fan-out
# at 32·31/2 = 496 regardless of degree — a part with 10M buyers at
# 100 TB contributes 496 pairs, not 5·10^13. row_number-over-(p ORDER
# BY c) is total-order deterministic, so the DuckDB oracles replay the
# sample bit-for-bit (every co-purchase oracle carries the same cps
# CTE). Measured on the TPC-H-ish testdata (degree ~uniform 20-50,
# median 30): the cap binds on the top ~3% of parts, pair volume drops
# ~10% (sf0.1: 8.98M -> 8.06M), and the edge set keeps ~76-99% of its
# uncapped edges — the guard is cheap where data is healthy and a hard
# bound where it is not (SHUFFLE_AUDIT_r12 attests both numbers).
_CP_PART_CAP = 32

# Per-HUB neighborhood cap for shared-neighbor pair joins over the
# co-purchase graph (g30): even with _CP_PART_CAP bounding each part's
# pair emission, a customer can accumulate a large co-purchase DEGREE
# across many parts, and a join on the shared-neighbor key z then
# generates deg(z)² candidates on that hub. Same guard, one level up:
# keep each z's 64 smallest neighbor ids (row_number over (z ORDER BY
# n) — total-order deterministic, replayed verbatim in the oracle's
# undc CTE), bounding per-hub candidates at 64·63/2 = 2016 regardless
# of degree. Binds on real data at sf0.01 (max degree 161).
_CP_HUB_CAP = 64


def _copurchase_edges(orders, li):
    """Customer co-purchase edges (u, v), u < v: customers adjacent
    when they bought >= 4 common parts, computed over per-part buyer
    neighborhoods capped at ``_CP_PART_CAP`` (see note above). The
    row_number window shuffles by p — the same key the pair join
    needs, so the cap adds no extra exchange. Consumers read it through
    ``_copurchase``, which materializes it once per session."""
    from pyspark.sql import Window as _W

    # One explicit wide exchange on p feeds the whole chain: p is a
    # subset of the distinct key (c, p), so hashpartitioning(p) also
    # satisfies the dedup and the row_number window — the plan runs
    # dedup + cap + pair join + partial pair-count in ONE stage after
    # ONE shuffle (was two ENSURE_REQUIREMENTS exchanges). The count
    # is user-pinned (repartition(N, col)) because AQE coalesces this
    # exchange by its INPUT size (~7 MiB at sf0.1 → 4 tasks) while the
    # stage above it explodes ~cap²/2 pairs per part (13× the rows) —
    # sf0.1 stage trace: the 5.7 s pair stage ran on 4 of 32 cores.
    # Scale-adaptive: N tracks the session's core count, not a
    # constant (guide §2.4/§2.5; explode-after-coalesce).
    n_wide = 4 * orders.sparkSession.sparkContext.defaultParallelism
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .repartition(n_wide, "p")
        .distinct()
    )
    cps = (
        cp.withColumn(
            "rn",
            F.row_number().over(_W.partitionBy("p").orderBy("c")),
        )
        .filter(F.col("rn") <= _CP_PART_CAP)
        .drop("rn")
    )
    # Pair generation by combination-explode, not self-join: each
    # part's capped buyer set is collected into ONE sorted array
    # (bounded at _CP_PART_CAP elements — the cap window upstream makes
    # the collect_list safe at any skew, unlike a pre-cap collect) and
    # the u < v pairs explode from it with two codegen generators.
    # Identical pair multiset to `cps a JOIN cps b ON a.p = b.p AND
    # a.c < b.c` (sorted distinct array ⇒ index order IS value order),
    # but the plan drops the SMJ entirely: the groupBy(p) reuses the
    # window's pinned exchange, so pair emission is a map-side explode
    # instead of a 600k×600k sort-merge scan — the sf0.1 stage trace
    # had the join's two probe stages at ~100 s of the substrate's
    # ~190 s CPU.
    buyers = cps.groupBy("p").agg(
        F.sort_array(F.collect_list("c")).alias("cs")
    )
    return (
        buyers.select(F.col("cs"), F.posexplode("cs").alias("i", "u"))
        .select(
            "u",
            F.explode(
                F.slice(F.col("cs"), F.col("i") + 2, F.lit(_CP_PART_CAP))
            ).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("sp"))
        .filter(F.col("sp") >= 4)
        .select("u", "v")
    )


# One undirected co-purchase relation per (session, sf_dir), 12 queries'
# substrate: und = e ∪ swap(e) in one pass over the pair aggregation (a
# two-branch union would run its ~Σd²/2-record reduce twice), hash-
# partitioned on v and PERSISTED, not cut — a cut frame reports no
# partitioning, so every join or group on v would re-shuffle it
# (ekati_spark/checkpoint.py). A consumer needing the directed edges
# reads und.filter(u < v): exactly e, whose pairs explode from sorted,
# distinct buyer arrays.
def _copurchase(spark, sf_dir):
    def build():
        e = _copurchase_edges(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )
        swap = F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
        und = (
            e.select(F.explode(F.array(F.struct("u", "v"), swap)).alias("x"))
            .select("x.u", "x.v")
            .repartition(spark.sparkContext.defaultParallelism, "v")
            .persist()
        )
        und.count()
        return und

    return get_or_build(spark, "copurchase", sf_dir, build, lambda d: d.unpersist())


@register(
    "g30_link_prediction",
    oracle="""
    WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS z, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY u),
    undw AS (SELECT und.u AS z, und.v AS n, 1000000000 // deg.deg AS w
             FROM und JOIN deg ON und.u = deg.z),
    undc AS (SELECT z, n, w FROM (
               SELECT z, n, w,
                      row_number() OVER (PARTITION BY z ORDER BY n) AS rn
               FROM undw)
             WHERE rn <= 64),
    cand AS (
      SELECT a.n AS cust_a, b.n AS cust_b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(a.w) AS BIGINT) AS ra_nano
      FROM undc a JOIN undc b ON a.z = b.z AND a.n < b.n
      GROUP BY 1, 2
    )
    SELECT c.cust_a, c.cust_b, c.common_neighbors, c.ra_nano
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM e
                      WHERE e.u = c.cust_a AND e.v = c.cust_b)
    ORDER BY c.ra_nano DESC, c.cust_a, c.cust_b
    LIMIT 100
    """,
)
def g30_link_prediction(spark, sf_dir):
    """Link prediction over the customer co-purchase graph (customers
    adjacent when they bought >= 4 common parts): score non-adjacent
    pairs by the Resource-Allocation index (Zhou/Lu/Zhang 2009) —
    RA(a,b) = sum over common neighbors z of 1/deg(z) — and rank the
    top 100 predicted links. RA is Adamic-Adar\'s rational cousin,
    chosen deliberately: the per-neighbor weight is exact integer
    fixed-point (``1e9 div deg``, a bigint), so scores are
    merge-order-independent and bit-identical across engines with no
    decimal rescue and no libm ``log`` divergence. (The co-supplier
    graph g24 is complete at test SFs — every pair adjacent, nothing
    to predict — so the substrate here is the sparser bipartite
    customer-part projection.)

    Shape: degree joins BEFORE the pair join (the weight rides the
    same shuffle key, no second pass); candidate pairs meet on the
    shared-neighbor key, whose cost is sum of deg(z)^2 — so hub
    neighborhoods are CAPPED first at ``_CP_HUB_CAP`` smallest
    neighbor ids (deterministic row_number over (z ORDER BY n), the
    ``_CP_PART_CAP`` pattern one level up), bounding per-hub fan-out
    at 64·63/2 = 2016 candidates no matter the degree; the weight
    keeps the TRUE degree (the cap samples which pairs are scored,
    not what deg(z) is). The cap binds at sf0.01 (max co-purchase
    degree 161), so the oracle's identical undc CTE replay is
    hash-attested, not dormant. Existing edges removed with a
    left-anti join, top-100 under a total order (ra desc, a, b) ->
    TakeOrderedAndProject, no global sort."""
    und = _copurchase(spark, sf_dir)
    e = und.filter(F.col("u") < F.col("v"))
    deg = und.groupBy(F.col("u").alias("z")).agg(F.count("*").alias("deg"))
    undw = und.join(deg, und.u == deg.z).select(
        "z", F.col("v").alias("n"), F.expr("1000000000L div deg").alias("w")
    )
    from pyspark.sql import Window as _W

    undc = (
        undw.withColumn(
            "rn", F.row_number().over(_W.partitionBy("z").orderBy("n"))
        )
        .filter(F.col("rn") <= _CP_HUB_CAP)
        .drop("rn")
    )
    wa, wb = undc.alias("wa"), undc.alias("wb")
    cand = (
        wa.join(wb, (F.col("wa.z") == F.col("wb.z")) & (F.col("wa.n") < F.col("wb.n")))
        .groupBy(
            F.col("wa.n").alias("cust_a"), F.col("wb.n").alias("cust_b")
        )
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.col("wa.w")).alias("ra_nano"),
        )
    )
    pred = cand.join(
        e,
        (cand.cust_a == e.u) & (cand.cust_b == e.v),
        "left_anti",
    )
    return pred.orderBy(
        F.col("ra_nano").desc(), "cust_a", "cust_b"
    ).limit(100)


@register(
    "g31_nation_modularity",
    oracle="""
    WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    nat AS (SELECT c_custkey AS c, c_nationkey AS nk FROM customer),
    lab AS (
      SELECT e.u, e.v, nu.nk AS nk_u, nv.nk AS nk_v
      FROM e JOIN nat nu ON e.u = nu.c JOIN nat nv ON e.v = nv.c
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT und.u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY und.u),
    dsum AS (
      SELECT nat.nk, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN nat ON deg.u = nat.c GROUP BY nat.nk
    ),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS m,
             (SELECT CAST(count(*) AS BIGINT) FROM lab
              WHERE nk_u = nk_v) AS e_intra,
             (SELECT CAST(SUM(d_c * d_c) AS BIGINT) FROM dsum) AS d_sq
    )
    SELECT m, e_intra, d_sq,
           CAST(4 * m * e_intra - d_sq AS DOUBLE)
             / CAST(4 * m * m AS DOUBLE) AS modularity
    FROM tot
    """,
)
def g31_nation_modularity(spark, sf_dir):
    """Attribute modularity of the co-purchase graph: do same-nation
    customers co-purchase more than a degree-preserving random graph
    would predict? Newman modularity with communities = the customer's
    nation (an exogenous label — no iterative community detection
    needed): Q = sum_c [e_c/m - (d_c/2m)^2], computed as the single
    integer expression (4m * e_intra - sum d_c^2) / (4m^2) so every
    aggregate is an exact bigint and the ONE final division is
    bit-identical everywhere — no decimal rescue, no float
    accumulation. Scale shape: the projection self-join is g24/g30's
    (hub caps apply); everything after is integer aggregates over
    edges and a 25-row nation rollup; the nation labels broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    und = _copurchase(spark, sf_dir)
    e = und.filter(F.col("u") < F.col("v"))
    nat = cust.select(F.col("c_custkey").alias("c"), F.col("c_nationkey").alias("nk"))
    lab = (
        e.join(F.broadcast(nat.withColumnRenamed("c", "u").withColumnRenamed("nk", "nk_u")), "u")
        .join(F.broadcast(nat.withColumnRenamed("c", "v").withColumnRenamed("nk", "nk_v")), "v")
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    dsum = deg.join(F.broadcast(nat.withColumnRenamed("c", "u")), "u").groupBy(
        "nk"
    ).agg(F.sum("d").alias("d_c"))
    m_df = e.agg(F.count("*").alias("m"))
    intra = lab.filter(F.col("nk_u") == F.col("nk_v")).agg(
        F.count("*").alias("e_intra")
    )
    dsq = dsum.agg(F.sum(F.col("d_c") * F.col("d_c")).alias("d_sq"))
    tot = m_df.crossJoin(F.broadcast(intra)).crossJoin(F.broadcast(dsq))
    return tot.select(
        "m", "e_intra", "d_sq",
        (
            (4 * F.col("m") * F.col("e_intra") - F.col("d_sq")).cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double")
        ).alias("modularity"),
    )


@register(
    "g32_hits",
    oracle="""
    WITH w AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(count(*) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    a0 AS (SELECT s, SUM(w) AS v FROM w GROUP BY s),
    a0n AS (SELECT s, v * 1000000 // (SELECT MAX(v) FROM a0) AS v FROM a0),
    h1 AS (SELECT w.c, SUM(w.w * a0n.v) AS v FROM w JOIN a0n ON w.s = a0n.s
           GROUP BY w.c),
    h1n AS (SELECT c, v * 1000000 // (SELECT MAX(v) FROM h1) AS v FROM h1),
    a2 AS (SELECT w.s, SUM(w.w * h1n.v) AS v FROM w JOIN h1n ON w.c = h1n.c
           GROUP BY w.s),
    a2n AS (SELECT s, v * 1000000 // (SELECT MAX(v) FROM a2) AS v FROM a2),
    h2 AS (SELECT w.c, SUM(w.w * a2n.v) AS v FROM w JOIN a2n ON w.s = a2n.s
           GROUP BY w.c),
    h2n AS (SELECT c, v * 1000000 // (SELECT MAX(v) FROM h2) AS v FROM h2),
    ta AS (SELECT 'authority' AS role, CAST(s AS INTEGER) AS entity,
                  CAST(v AS BIGINT) AS score_ppm
           FROM a2n ORDER BY v DESC, s LIMIT 20),
    th AS (SELECT 'hub' AS role, CAST(c AS INTEGER) AS entity,
                  CAST(v AS BIGINT) AS score_ppm
           FROM h2n ORDER BY v DESC, c LIMIT 20)
    SELECT * FROM ta UNION ALL SELECT * FROM th
    """,
)
def g32_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg) on the directed
    customer→supplier purchase graph (edge weight = lineitem count):
    two full mutual-reinforcement rounds, reporting the top-20
    authorities (suppliers bought from by the broadest heavy buyers)
    and top-20 hubs (customers concentrating on authoritative
    suppliers).

    Determinism: the float L2 normalization of textbook HITS only
    rescales scores by a positive per-round scalar, so rankings are
    invariant to the norm used — this implementation normalizes by the
    per-round MAX in parts-per-million **integer fixed point**
    (``v * 1e6 div max``); every score is a BIGINT, sums are
    order-independent, and the oracle replays the identical integer
    ops. Headroom: per-node Σw·1e6 stays < 2^63 until per-node
    degree·weight mass exceeds ~9e12 (at which point drop to 1e3
    fixed point).

    Scale shape: the weight table is built once and localCheckpointed
    (reused by all four propagation joins); each round is one
    shuffle-on-key join + groupBy (partial aggregation map-side); the
    per-round max is a scalar collect (one row, not data); top-k is
    TakeOrderedAndProject. O(rounds) shuffles ∝ edge count — the same
    shape PageRank (g13) runs at."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    PPM = 1_000_000
    w = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("w"))
        .transform(cut_lineage)  # reused by all 4 propagation joins
    )

    def _norm(df, key):
        # Materialize the raw per-round scores BEFORE the max probe:
        # the probe and the normalized output both read the ≤node-count
        # checkpoint, so the w-join + aggregation chain above executes
        # ONCE per round (the old order ran it twice — once under
        # agg(max).first(), again under the output's checkpoint; the
        # sf0.1 stage trace showed every round's 586k-row join shuffle
        # duplicated). Normalization stays a narrow projection over the
        # materialized blocks — tiny, consumed by the next join + top-k.
        raw = df.transform(cut_lineage)
        m = int(raw.agg(F.max("v")).first()[0])
        return raw.select(key, F.expr(f"v * {PPM}L div {m}L").alias("v"))

    a = _norm(w.groupBy("s").agg(F.sum("w").alias("v")), "s")
    for _ in range(1):  # one and a half more rounds: h1 -> a2 -> h2
        h = _norm(
            w.join(a, "s").groupBy("c").agg(F.sum(F.col("w") * F.col("v")).alias("v")),
            "c",
        )
        a = _norm(
            w.join(h, "c").groupBy("s").agg(F.sum(F.col("w") * F.col("v")).alias("v")),
            "s",
        )
    h = _norm(
        w.join(a, "s").groupBy("c").agg(F.sum(F.col("w") * F.col("v")).alias("v")),
        "c",
    )
    top_a = (
        a.orderBy(F.col("v").desc(), "s")
        .limit(20)
        .select(
            F.lit("authority").alias("role"),
            F.col("s").cast("int").alias("entity"),
            F.col("v").alias("score_ppm"),
        )
    )
    top_h = (
        h.orderBy(F.col("v").desc(), "c")
        .limit(20)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("int").alias("entity"),
            F.col("v").alias("score_ppm"),
        )
    )
    return top_a.unionByName(top_h)


@register(
    "g33_harmonic_centrality",
    oracle="""
    WITH RECURSIVE cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    seeds AS (SELECT DISTINCT u AS seed FROM und ORDER BY seed LIMIT 8),
    bfs AS (
      SELECT seed, seed AS node, 0 AS d FROM seeds
      UNION
      SELECT b.seed, und.v AS node, b.d + 1
      FROM bfs b JOIN und ON b.node = und.u
      WHERE b.d < 4
    ),
    dist AS (SELECT seed, node, MIN(d) AS d FROM bfs GROUP BY 1, 2)
    SELECT node AS cust, CAST(SUM(1000000000 // d) AS BIGINT) AS harmonic_nano,
           CAST(count(*) AS BIGINT) AS n_seeds_reached
    FROM dist WHERE d > 0
    GROUP BY node
    ORDER BY harmonic_nano DESC, cust
    LIMIT 25
    """,
)
def g33_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality (Eppstein-Wang estimator shape) on
    the customer co-purchase graph: exact BFS distances from the 8
    smallest-id nodes — all seeds riding one iterative multi-source
    frontier (``algorithms.multi_source_hops``) — then per node the
    harmonic sum Σ 1/d over reached seeds, in nano integer fixed point
    (``1e9 div d``: hop distances share tiny denominators, so scores
    are exact BIGINTs — no float, no merge-order sensitivity), top-25
    under a total order.

    Scale shape: per-seed BFS cost rides the SAME joins as single
    -source (frontier rows ×8, one pass per hop over the edge table);
    at 100 TB centrality sampling is exactly this with a larger seed
    sample — the all-pairs alternative does not exist. The co-purchase
    projection (≥ 4 shared parts) is the established sparse substrate
    (g30/g31). Oracle: WITH RECURSIVE level-deduped walk closure +
    MIN(d) — bounded by #seeds × #nodes × (max_hops+1) rows."""
    from ekati_spark.graph.algorithms import multi_source_hops

    und = _copurchase(spark, sf_dir)
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    seeds = (
        und.select(F.col("u").alias("node_id"))
        .distinct()
        .orderBy("node_id")
        .limit(8)
    )
    hops = multi_source_hops(edges, seeds, max_hops=4)
    return (
        hops.filter(F.col("hops") > 0)
        .groupBy(F.col("node_id").alias("cust"))
        .agg(
            F.sum(F.expr("1000000000L div hops")).alias("harmonic_nano"),
            F.count("*").alias("n_seeds_reached"),
        )
        .orderBy(F.col("harmonic_nano").desc(), "cust")
        .limit(25)
    )


@register(
    "g34_diameter_sweep",
    oracle="""
    WITH RECURSIVE cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    s1 AS (SELECT min(u) AS seed FROM und),
    bfs1 AS (
      SELECT seed AS node, 0 AS d FROM s1
      UNION
      SELECT und.v AS node, b.d + 1
      FROM bfs1 b JOIN und ON b.node = und.u
      WHERE b.d < 8
    ),
    d1 AS (SELECT node, MIN(d) AS d FROM bfs1 GROUP BY node),
    far AS (SELECT node AS far_node, d AS ecc_seed FROM d1
            ORDER BY d DESC, node LIMIT 1),
    bfs2 AS (
      SELECT far_node AS node, 0 AS d FROM far
      UNION
      SELECT und.v AS node, b.d + 1
      FROM bfs2 b JOIN und ON b.node = und.u
      WHERE b.d < 8
    ),
    d2 AS (SELECT node, MIN(d) AS d FROM bfs2 GROUP BY node)
    SELECT CAST((SELECT seed FROM s1) AS INTEGER) AS seed,
           CAST((SELECT far_node FROM far) AS INTEGER) AS far_node,
           (SELECT CAST(ecc_seed AS INTEGER) FROM far) AS ecc_seed,
           CAST(MAX(d2.d) AS INTEGER) AS diameter_lb,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM d2
    """,
)
def g34_diameter_sweep(spark, sf_dir):
    """Graph diameter lower bound by the double-BFS sweep (the iFUB /
    2-sweep heuristic): BFS from the smallest-id node, hop to the
    farthest node found (ties → smallest id), BFS again — the second
    eccentricity lower-bounds the true diameter and is exact on trees.
    One summary row: seed, the far node, both eccentricities, and the
    reachable-node count, all exact integers (hop cap 8 on both
    engines).

    Scale shape: two bounded BFS passes over the (persisted)
    co-purchase edge table — identical cost to two `follow *` runs;
    the only driver-side values are two scalar rows (the far node and
    the seed's eccentricity) collected between passes. At 100 TB this
    is THE diameter estimator — the exact alternative is all-pairs."""
    from ekati_spark.graph.algorithms import shortest_hops

    und = _copurchase(spark, sf_dir)
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    seed = und.agg(F.min("u")).first()[0]
    d1 = shortest_hops(
        edges, und.select(F.lit(seed).alias("node_id")).limit(1), max_hops=8
    )
    far_row = d1.orderBy(F.col("hops").desc(), "node_id").limit(1).first()
    far_node, ecc_seed = far_row.node_id, far_row.hops
    d2 = shortest_hops(
        edges, und.select(F.lit(far_node).alias("node_id")).limit(1), max_hops=8
    )
    return d2.agg(
        F.max("hops").cast("int").alias("diameter_lb"),
        F.count("*").alias("n_reached"),
    ).select(
        F.lit(seed).alias("seed"),
        F.lit(far_node).alias("far_node"),
        F.lit(int(ecc_seed)).cast("int").alias("ecc_seed"),
        "diameter_lb",
        "n_reached",
    )


@register(
    "g35_temporal_reachability",
    oracle="""
    WITH RECURSIVE eb AS (
      SELECT DISTINCT o.o_custkey*2 AS src, l.l_suppkey*2+1 AS dst,
             date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS t
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE CAST(o.o_orderdate AS DATE) < DATE '1995-07-01'
    ),
    e2 AS (SELECT src, dst, t FROM eb UNION ALL SELECT dst, src, t FROM eb),
    seed AS (SELECT min(src) AS n FROM eb),
    arr AS (
      SELECT n AS node, -1 AS t FROM seed
      UNION
      SELECT e2.dst, e2.t FROM arr JOIN e2 ON e2.src = arr.node
                                          AND e2.t > arr.t
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS INTEGER) AS entity,
           CAST(min(t) AS INTEGER) AS earliest_day
    FROM arr WHERE t >= 0 AND node <> (SELECT n FROM seed) GROUP BY 1, 2
    """,
)
def g35_temporal_reachability(spark, sf_dir):
    """Time-respecting reachability (earliest arrival) over the
    bipartite customer↔supplier contact graph: each order line is a
    contact at its order date; a chain c1→s1→c2→s2… is a path only if
    dates strictly increase along it — the contagion/information-flow
    semantics of temporal networks, which the static reachability of
    g22 cannot express. From the smallest-id customer with orders in
    the first half-year window, the earliest day every reachable
    customer/supplier can be "infected".

    Exactness: arrival days are integers (days since epoch), the
    kernel's pruned fixpoint equals the closure minimum by
    earliest-arrival dominance (``algorithms.earliest_arrival``
    docstring), and the oracle IS that closure (WITH RECURSIVE over
    (node, t) contact states + MIN). The date window bounds chain
    length on both engines identically.

    Scale shape: per round one equi-join frontier×edges with the time
    predicate evaluated post-join... actually IN the join condition —
    acceptable here because the time test is one comparison, not a
    scoring expression; state O(|V|), checkpointed; converges in a
    handful of rounds on dense contact graphs."""
    from ekati_spark.graph.algorithms import earliest_arrival

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.to_date("o_orderdate") < F.lit("1995-07-01"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("t"),
        )
        .distinct()
    )
    edges = eb.unionByName(
        eb.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "t"
        )
    ).transform(cut_lineage)  # consumed every round
    seed = int(eb.agg(F.min("src")).first()[0])
    seeds = spark.createDataFrame([(seed, -1)], "node_id long, t0 int")
    best = earliest_arrival(edges, seeds)
    return best.filter(F.col("t") >= 0).select(
        F.when(F.col("node_id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node_id div 2").cast("int").alias("entity"),
        F.col("t").cast("int").alias("earliest_day"),
    )


_G36_SUPPORT_SUB = """
        SELECT x.u AS su, x.v AS sv
        FROM truss x
        JOIN (SELECT u, v FROM truss UNION ALL SELECT v, u FROM truss) a
          ON a.u = x.u
        JOIN (SELECT u, v FROM truss UNION ALL SELECT v, u FROM truss) b
          ON b.u = x.v AND b.v = a.v
        GROUP BY x.u, x.v HAVING count(*) >= 2
"""


@register(
    "g36_ktruss",
    oracle=f"""
    WITH RECURSIVE cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    -- simultaneous peel to fixpoint, g20's pattern at EDGE granularity:
    -- each level re-emits the surviving edge set (edges with triangle
    -- support >= k-2 within the level); the EXISTS guard stops once no
    -- edge fails. A peel that removes every edge emits no level, so the
    -- last level is the truss only if none of its edges fails (`last`);
    -- otherwise the truss is empty (sf0.1: 334 edges, all peeled).
    truss(iter, u, v) AS (
      SELECT 0, u, v FROM e
      UNION ALL
      SELECT t.iter + 1, t.u, t.v
      FROM truss t
      JOIN ({_G36_SUPPORT_SUB}) s ON s.su = t.u AND s.sv = t.v
      WHERE t.iter < 40
        AND EXISTS (
          SELECT 1 FROM truss y WHERE NOT EXISTS (
            SELECT 1 FROM ({_G36_SUPPORT_SUB}) z
            WHERE z.su = y.u AND z.sv = y.v))
    ),
    fin AS (
      SELECT u, v FROM truss WHERE iter = (SELECT max(iter) FROM truss)
    ),
    last AS (
      SELECT u, v FROM fin WHERE NOT EXISTS (
        SELECT 1 FROM fin y WHERE NOT EXISTS (
          SELECT 1 FROM ({_G36_SUPPORT_SUB.replace("truss", "fin")}) z
          WHERE z.su = y.u AND z.sv = y.v))
    ),
    und AS (SELECT u, v FROM last UNION ALL SELECT v, u FROM last)
    SELECT u AS cust, CAST(count(*) AS BIGINT) AS truss_degree
    FROM und GROUP BY u
    """,
)
def g36_ktruss(spark, sf_dir):
    """4-truss of the customer co-purchase graph: the maximal subgraph
    whose every edge closes ≥ 2 triangles inside it (Cohen's truss —
    the EDGE-peeling community core, strictly tighter than g20's
    node-degree k-core). Per surviving customer, their degree within
    the truss. Kernel: ``algorithms.k_truss`` simultaneous peel (the
    unique maximal truss is order-independent); oracle: the g20
    recursive-peel pattern lifted to edges, with the triangle-support
    subquery replayed inside each level."""
    from ekati_spark.graph.algorithms import k_truss

    e = _copurchase(spark, sf_dir).filter(F.col("u") < F.col("v"))
    surv = k_truss(e, k=4)
    und = surv.unionByName(
        surv.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return und.groupBy(F.col("u").alias("cust")).agg(
        F.count("*").alias("truss_degree")
    )


@register(
    "g37_degree_assortativity",
    oracle="""
    WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT und.u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY und.u),
    dd AS (
      SELECT du.d AS x, dv.d AS y
      FROM und JOIN deg du ON und.u = du.u JOIN deg dv ON und.v = dv.u
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m2,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM dd
    )
    SELECT m2, sxy, sx, sx2,
           CAST(m2 * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(m2 * sx2 - sx * sx AS DOUBLE))
                * sqrt(CAST(m2 * sy2 - sy * sy AS DOUBLE)))
             AS assortativity
    FROM s
    """,
)
def g37_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the customer co-purchase graph (>=4
    shared parts — the sparse projection, see g30/g31): Pearson
    correlation of endpoint degrees over the symmetrized edge list.
    Do high-degree customers co-purchase with high-degree customers?

    Every moment (sum xy / x / x^2 over 2m endpoint pairs) is an EXACT
    bigint aggregate; the one float expression at the end is a fixed op
    sequence (two correctly-rounded sqrts, one multiply, one divide) so
    Spark and DuckDB agree bit-for-bit — the g31 integer-moments
    pattern. Scale shape: projection self-join (the dominant shuffle,
    same as g24/g30), then two broadcast-ready degree joins and a
    6-scalar aggregate; nothing after the projection scales with more
    than the edge count. At true 100 TB the bigint moment products
    approach 2^63 — promote to decimal(38,0) accumulation then (same
    plan shape); test-SF magnitudes stay far inside bigint."""
    und = _copurchase(spark, sf_dir)
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    dd = (
        und.join(deg.select(F.col("u"), F.col("d").alias("x")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("y")), "v"
        )
    )
    s = dd.agg(
        F.count("*").cast("long").alias("m2"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
    )
    return s.select(
        "m2", "sxy", "sx", "sx2",
        (
            (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((F.col("m2") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("m2") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double"))
            )
        ).alias("assortativity"),
    )


@register(
    "g38_clustering_coefficient",
    oracle="""
    WITH cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
      SELECT unnest([a, b, c]) AS node FROM tri
    ),
    tcount AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM pernode GROUP BY node),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT und.u AS node, CAST(count(*) AS BIGINT) AS d
            FROM und GROUP BY und.u)
    SELECT deg.node AS cust, deg.d AS degree,
           COALESCE(tcount.tri, 0) AS triangles,
           2 * COALESCE(tcount.tri, 0) * 1000000 // (deg.d * (deg.d - 1))
             AS lcc_micro
    FROM deg LEFT JOIN tcount ON deg.node = tcount.node
    WHERE deg.d >= 2
    """,
)
def g38_clustering_coefficient(spark, sf_dir):
    """Per-node local clustering coefficient on the co-purchase graph:
    lcc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)), reported in exact integer
    micro-units (the g30 fixed-point pattern — one bigint division, no
    float tie hazards). Triangle enumeration is the canonical
    distributed shape: canonically oriented edges (u < v), a wedge
    self-join on the middle vertex, then an edge-existence semi-join —
    each triangle materializes exactly once as a < b < c. Per-node
    counts are an explode + groupBy, shuffle bounded by 3x the triangle
    count. At 100 TB the orientation would be by (degree, id) instead
    of raw id — same triangle set, provably capped wedge fan-out on
    skewed hubs (the e1.v join key becomes the LOWER-degree endpoint);
    id-orientation keeps the plan identical and the oracle trivial at
    test SFs."""
    und = _copurchase(spark, sf_dir)
    e = und.filter(F.col("u") < F.col("v"))
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    pernode = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    tcount = pernode.groupBy("node").agg(F.count("*").cast("long").alias("tri"))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    out = (
        deg.join(tcount, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("cust"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0).cast("long")).alias("triangles"),
            F.expr(
                "CAST(2 * coalesce(tri, 0) * 1000000 AS BIGINT)"
                " div (d * (d - 1))"
            ).alias("lcc_micro"),
        )
    )
    return out


@register(
    "g39_betweenness_sampled",
    oracle="""
    WITH RECURSIVE cp AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS MATERIALIZED (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    seeds AS (SELECT DISTINCT u AS seed FROM und ORDER BY seed LIMIT 8),
    bfs AS (
      SELECT seed, seed AS node, 0 AS d FROM seeds
      UNION
      SELECT b.seed, und.v AS node, b.d + 1
      FROM bfs b JOIN und ON b.node = und.u
      WHERE b.d < 4
    ),
    dist AS MATERIALIZED (SELECT seed, node, MIN(d) AS d FROM bfs GROUP BY 1, 2),
    s0 AS MATERIALIZED (SELECT seed, node, CAST(1 AS BIGINT) AS sigma
           FROM dist WHERE d = 0),
    s1 AS MATERIALIZED (
      SELECT dv.seed, dv.node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM dist dv JOIN und ON und.v = dv.node
      JOIN s0 p ON p.seed = dv.seed AND p.node = und.u
      WHERE dv.d = 1 GROUP BY 1, 2
    ),
    s2 AS MATERIALIZED (
      SELECT dv.seed, dv.node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM dist dv JOIN und ON und.v = dv.node
      JOIN s1 p ON p.seed = dv.seed AND p.node = und.u
      WHERE dv.d = 2 GROUP BY 1, 2
    ),
    s3 AS MATERIALIZED (
      SELECT dv.seed, dv.node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM dist dv JOIN und ON und.v = dv.node
      JOIN s2 p ON p.seed = dv.seed AND p.node = und.u
      WHERE dv.d = 3 GROUP BY 1, 2
    ),
    s4 AS MATERIALIZED (
      SELECT dv.seed, dv.node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM dist dv JOIN und ON und.v = dv.node
      JOIN s3 p ON p.seed = dv.seed AND p.node = und.u
      WHERE dv.d = 4 GROUP BY 1, 2
    ),
    b4 AS MATERIALIZED (SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta_n FROM s4),
    b3 AS MATERIALIZED (
      SELECT s3.seed, s3.node, s3.sigma,
             CAST(COALESCE(SUM(s3.sigma * (1000000000 + w.delta_n) // w.sigma), 0)
                  AS BIGINT) AS delta_n
      FROM s3
      LEFT JOIN und ON s3.node = und.u
      LEFT JOIN b4 w ON w.seed = s3.seed AND w.node = und.v
      GROUP BY 1, 2, 3
    ),
    b2 AS MATERIALIZED (
      SELECT s2.seed, s2.node, s2.sigma,
             CAST(COALESCE(SUM(s2.sigma * (1000000000 + w.delta_n) // w.sigma), 0)
                  AS BIGINT) AS delta_n
      FROM s2
      LEFT JOIN und ON s2.node = und.u
      LEFT JOIN b3 w ON w.seed = s2.seed AND w.node = und.v
      GROUP BY 1, 2, 3
    ),
    b1 AS MATERIALIZED (
      SELECT s1.seed, s1.node, s1.sigma,
             CAST(COALESCE(SUM(s1.sigma * (1000000000 + w.delta_n) // w.sigma), 0)
                  AS BIGINT) AS delta_n
      FROM s1
      LEFT JOIN und ON s1.node = und.u
      LEFT JOIN b2 w ON w.seed = s1.seed AND w.node = und.v
      GROUP BY 1, 2, 3
    ),
    allb AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
      UNION ALL SELECT * FROM b3 UNION ALL SELECT * FROM b4
    )
    SELECT node AS cust,
           CAST(SUM(delta_n) AS BIGINT) AS bc_nano,
           CAST(count(*) AS BIGINT) AS n_sources_reached
    FROM allb
    GROUP BY node
    HAVING SUM(delta_n) > 0
    ORDER BY bc_nano DESC, cust
    LIMIT 30
    """,
)
def g39_betweenness_sampled(spark, sf_dir):
    """Sampled betweenness centrality (Brandes dependency accumulation,
    bounded radius) on the co-purchase graph: which customers lie on the
    most shortest paths between other customers? 8 deterministic source
    seeds (smallest node ids — g33's convention), BFS radius capped at 4
    (at 100 TB full APSP is infeasible; source-sampled, radius-bounded
    Brandes is the standard estimator, and the co-purchase graph's
    2-sweep diameter bound (g34) shows radius 4 covers most pairs).

    Exactness without floats: forward sigma (shortest-path counts) is
    level-synchronous integer DP — sigma(v) = sum of sigma over level-d
    predecessors, exact BIGINT. The backward pass stores dependencies in
    NANO fixed point with the division applied PER TERM:
    delta(v) = sum_w [sigma_v * (1e9 + delta_w) div sigma_w] over
    level-(d+1) successors w — every term is one exact integer division,
    so the sum is order-free and DuckDB's unrolled replay matches
    bit-for-bit (the g32 fixed-point doctrine applied to Brandes).

    Scale shape: all 8 sources ride ONE frontier keyed by (seed, node)
    (multi-source batching, g33); each forward level is a
    join + groupBy-sum (shuffle ∝ frontier-adjacent edges) with an
    anti-join against the per-seed visited set; each backward level is
    one join against the next level's delta table. Per-level state is
    localCheckpointed — consumed by the next level AND the final union.
    Levels are bounded (4), so the driver loop is O(1) plans."""
    NANO = 1_000_000_000
    MAXD = 4
    und = _copurchase(spark, sf_dir)
    seeds = (
        und.select(F.col("u").alias("seed"))
        .distinct()
        .orderBy("seed")
        .limit(8)
    )
    lvl = [
        seeds.select(
            "seed", F.col("seed").alias("node"), F.lit(1).cast("long").alias("sigma")
        ).transform(cut_lineage)
    ]
    visited = lvl[0].select("seed", "node").transform(cut_lineage)
    for _ in range(MAXD):
        nxt = (
            lvl[-1]
            .join(und, lvl[-1]["node"] == und["u"])
            .groupBy("seed", F.col("v").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(visited, ["seed", "node"], "left_anti")
            .transform(cut_lineage)  # next level + visited + backward
        )
        lvl.append(nxt)
        visited = visited.unionByName(nxt.select("seed", "node")).transform(
            cut_lineage
        )
    delta = [None] * (MAXD + 1)
    delta[MAXD] = lvl[MAXD].withColumn("delta_n", F.lit(0).cast("long"))
    for d in range(MAXD - 1, 0, -1):
        w = delta[d + 1].select(
            "seed",
            F.col("node").alias("w_node"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta_n").alias("w_delta"),
        )
        contrib = (
            lvl[d]
            .join(und, lvl[d]["node"] == und["u"])
            .join(
                w,
                (F.col("w_node") == F.col("v"))
                & (w["seed"] == lvl[d]["seed"]),
            )
            .select(
                lvl[d]["seed"].alias("seed"),
                lvl[d]["node"].alias("node"),
                F.expr(f"sigma * ({NANO}L + w_delta) div w_sigma").alias("term"),
            )
            .groupBy("seed", "node")
            .agg(F.sum("term").cast("long").alias("delta_n"))
        )
        delta[d] = (
            lvl[d]
            .join(contrib, ["seed", "node"], "left")
            .select(
                "seed",
                "node",
                "sigma",
                F.coalesce(F.col("delta_n"), F.lit(0).cast("long")).alias(
                    "delta_n"
                ),
            )
            .transform(cut_lineage)  # next backward level + final union
        )
    allb = delta[1]
    for d in range(2, MAXD + 1):
        allb = allb.unionByName(delta[d])
    return (
        allb.groupBy(F.col("node").alias("cust"))
        .agg(
            F.sum("delta_n").cast("long").alias("bc_nano"),
            F.count("*").cast("long").alias("n_sources_reached"),
        )
        .filter(F.col("bc_nano") > 0)
        .orderBy(F.col("bc_nano").desc(), "cust")
        .limit(30)
    )


@register(
    "g40_random_walk_corpus",
    oracle="""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS MATERIALIZED (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    adj AS MATERIALIZED (
      SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY u) AS deg
      FROM und
    ),
    seeds AS MATERIALIZED (
      SELECT DISTINCT u AS seed FROM und ORDER BY seed LIMIT 50
    ),
    w0 AS MATERIALIZED (SELECT seed, 0 AS step, seed AS node FROM seeds),
    w1 AS MATERIALIZED (
      SELECT w.seed, 1 AS step, a.v AS node FROM w0 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_1_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w2 AS MATERIALIZED (
      SELECT w.seed, 2 AS step, a.v AS node FROM w1 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_2_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w3 AS MATERIALIZED (
      SELECT w.seed, 3 AS step, a.v AS node FROM w2 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_3_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w4 AS MATERIALIZED (
      SELECT w.seed, 4 AS step, a.v AS node FROM w3 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_4_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w5 AS MATERIALIZED (
      SELECT w.seed, 5 AS step, a.v AS node FROM w4 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_5_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w6 AS MATERIALIZED (
      SELECT w.seed, 6 AS step, a.v AS node FROM w5 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_6_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w7 AS MATERIALIZED (
      SELECT w.seed, 7 AS step, a.v AS node FROM w6 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_7_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    ),
    w8 AS MATERIALIZED (
      SELECT w.seed, 8 AS step, a.v AS node FROM w7 w
      JOIN adj a ON a.u = w.node
       AND a.rn = 1 + CAST(('0x' || substr(md5(
             CAST(w.seed AS VARCHAR) || '_8_' || CAST(w.node AS VARCHAR)
           ), 1, 13)) AS BIGINT) % a.deg
    )
    SELECT seed AS walk_id, CAST(step AS INTEGER) AS step, node
    FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1
          UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
          UNION ALL SELECT * FROM w4 UNION ALL SELECT * FROM w5
          UNION ALL SELECT * FROM w6 UNION ALL SELECT * FROM w7
          UNION ALL SELECT * FROM w8)
    """,
)
def g40_random_walk_corpus(spark, sf_dir):
    """DeepWalk-style random-walk corpus generation over the co-purchase
    graph — the graph→sequence step that feeds skip-gram graph-embedding
    training (walks become 'sentences'; l64 mines their co-occurrence).
    50 deterministic start nodes, 8 steps each.

    Determinism (the sampling.py md5-draw doctrine lifted to walks):
    the step-t transition out of node v on walk s picks neighbor index
    1 + md5_52bit(concat(s,'_',t,'_',v)) mod deg(v) over the id-sorted
    adjacency ranking — no RNG, reproducible under retry, identical in
    any engine that can md5, so the ENTIRE walk corpus hash-matches the
    unrolled SQL replay. Walks depending only on (walk, step, node)
    keep the hash input bounded and make revisits follow the same
    distribution as true uniform sampling with a fixed seed stream.

    Scale shape: the adjacency index (rn, deg per node — one window
    over the edge list) is built once and localCheckpointed; each step
    is ONE equi-join (frontier × adj on node + computed rank), shuffle
    ∝ number of active walks, not edges. Walk count scales out
    trivially (more seeds = more rows in the same joins); step count is
    a bounded driver loop, g39's shape."""
    STEPS = 8
    und = _copurchase(spark, sf_dir)
    from pyspark.sql import Window as W

    adj = und.select(
        "u",
        "v",
        F.row_number().over(W.partitionBy("u").orderBy("v")).alias("rn"),
        F.count("*").over(W.partitionBy("u")).alias("deg"),
    ).transform(cut_lineage)  # consumed by every walk step
    seeds = und.select(F.col("u").alias("seed")).distinct().orderBy("seed").limit(50)
    cur = seeds.select(
        "seed", F.lit(0).alias("step"), F.col("seed").alias("node")
    ).transform(cut_lineage)
    out = [cur]
    for t in range(1, STEPS + 1):
        draw = (
            "1 + pmod(cast(conv(substring(md5(concat("
            f"cast(seed as string), '_{t}_', cast(node as string)"
            ")), 1, 13), 16, 10) as bigint), deg)"
        )
        cur = (
            cur.join(adj, adj["u"] == cur["node"])
            .filter(F.col("rn") == F.expr(draw))
            .select(
                "seed", F.lit(t).alias("step"), F.col("v").alias("node")
            )
            .transform(cut_lineage)  # next step + final union
        )
        out.append(cur)
    allw = out[0]
    for df in out[1:]:
        allw = allw.unionByName(df)
    return allw.select(
        F.col("seed").alias("walk_id"),
        F.col("step").cast("int").alias("step"),
        "node",
    )


def _g41_oracle(max_k: int = 5, iter_cap: int = 80) -> str:
    """Generate the chained-peel coreness oracle: one recursive
    peel-to-fixpoint CTE per k (g20's pattern), each seeded from the
    previous k's surviving edge set (S_k ⊆ S_{k-1}), then bucket =
    1 + number of cores the node survives. Valid while S_{max_k} is
    nonempty (holds for the co-purchase graph at every test SF; the
    empty-core edge case is pinned by the known-graph pytest on the
    Spark side)."""
    parts = ["""WITH RECURSIVE cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS MATERIALIZED (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    sym AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    )"""]
    prev = "sym"
    for k in range(2, max_k + 1):
        parts.append(f""",
    core{k}(iter, u, v) AS (
      SELECT 0, u, v FROM {prev}
      UNION ALL
      SELECT c.iter + 1, c.u, c.v
      FROM core{k} c
      JOIN (SELECT u FROM core{k} GROUP BY u HAVING count(*) >= {k}) ku
        ON c.u = ku.u
      JOIN (SELECT u AS v FROM core{k} GROUP BY u HAVING count(*) >= {k}) kv
        ON c.v = kv.v
      WHERE c.iter < {iter_cap}
        AND EXISTS (SELECT 1 FROM core{k} GROUP BY u HAVING count(*) < {k})
    ),
    last{k} AS MATERIALIZED (
      SELECT u, v FROM core{k}
      WHERE iter = (SELECT max(iter) FROM core{k})
    )""")
        prev = f"last{k}"
    member = " + ".join(
        f"(CASE WHEN n.u IN (SELECT u FROM last{k}) THEN 1 ELSE 0 END)"
        for k in range(2, max_k + 1)
    )
    parts.append(f"""
    SELECT n.u AS cust,
           CAST(1 + {member} AS INTEGER) AS core_bucket
    FROM (SELECT DISTINCT u FROM sym) n""")
    return "".join(parts)


@register("g41_coreness_buckets", oracle=_g41_oracle())
def g41_coreness_buckets(spark, sf_dir):
    """Capped coreness decomposition of the co-purchase graph: every
    customer's core number bucketed 1..5 (5 = coreness >= 5) — the
    degeneracy-ordering view of graph centrality that k-core (g20,
    single k) and k-truss (g36) don't report per node. bucket(v) =
    1 + #{k in 2..5 : v survives the k-core peel}; S_k ⊆ S_{k-1}, so
    each peel starts from the previous survivor set.

    Scale shape: 4 invocations of the g20 peel kernel (per-round
    degree filter + edge semi-join, shuffle ∝ surviving edges, rounds
    bounded by peel depth), each strictly smaller than the last; the
    bucket rollup is one union + groupBy. The exact FULL coreness
    (uncapped) is the same loop run to max-degree — the cap is what
    keeps the oracle's unrolled CTE chain fixed-size, not an engine
    limit. Oracle generated by _g41_oracle (g20's recursive
    peel-to-fixpoint, chained)."""
    from ekati_spark.graph.algorithms import k_core

    und = _copurchase(spark, sf_dir)
    bucket = und.select(F.col("v").alias("cust")).distinct().select(
        "cust", F.lit(1).alias("core_bucket")
    )
    edges_k = und.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    for k in range(2, 6):
        surv = k_core(edges_k, k=k)  # (node_id, degree) of the k-core
        members = surv.select(F.col("node_id").alias("cust"))
        bucket = (
            bucket.join(
                members.withColumn("hit", F.lit(1)), "cust", "left"
            )
            .select(
                "cust",
                (F.col("core_bucket") + F.coalesce(F.col("hit"), F.lit(0)))
                .alias("core_bucket"),
            )
        )
        # next peel starts from this core's surviving edges
        edges_k = (
            edges_k.join(
                members.withColumnRenamed("cust", "src"), "src", "left_semi"
            )
            .join(
                members.withColumnRenamed("cust", "dst"), "dst", "left_semi"
            )
            .transform(cut_lineage)
        )
    return bucket.select(
        "cust", F.col("core_bucket").cast("int").alias("core_bucket")
    )


@register(
    "g42_temporal_broker_score",
    oracle="""
    WITH contact AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s,
             date_diff('day', DATE '1992-01-01',
                       CAST(o.o_orderdate AS DATE)) AS day
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    w AS (
      SELECT s, c, day,
             count(*) OVER (PARTITION BY s ORDER BY day
                            RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING)
               AS earlier_any,
             count(*) OVER (PARTITION BY s, c ORDER BY day
                            RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING)
               AS earlier_own
      FROM contact
    )
    SELECT s AS supp,
           CAST(SUM(earlier_any - earlier_own) AS BIGINT) AS wedges
    FROM w GROUP BY s
    ORDER BY wedges DESC, supp
    LIMIT 20
    """,
)
def g42_temporal_broker_score(spark, sf_dir):
    """Temporal brokerage: count time-respecting 2-paths a→s→b — an
    earlier customer's contact with supplier s can "flow" to any OTHER
    customer contacting s within the next 30 days (the temporal-motif
    counterpart of g35's earliest-arrival reachability). Top-20
    brokers by wedge count.

    Scale-correct formulation: NO pair enumeration — for each contact,
    wedges ending there = (contacts at s in the prior 30 days) minus
    (the same customer's own), both RANGE windows over integer days,
    summed per supplier. Cost is two windows over the contact table
    (∝ contacts, not ∝ contact²; at sf0.1 pair enumeration would be
    ~10^9 rows, the windows are 600k). All integer — exact."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    contact = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01")
            ).alias("day"),
        )
        .distinct()
    )
    w_any = (
        W.partitionBy("s").orderBy("day").rangeBetween(-30, -1)
    )
    w_own = (
        W.partitionBy("s", "c").orderBy("day").rangeBetween(-30, -1)
    )
    w = contact.select(
        "s",
        F.count("*").over(w_any).alias("earlier_any"),
        F.count("*").over(w_own).alias("earlier_own"),
    )
    return (
        w.groupBy(F.col("s").alias("supp"))
        .agg(
            F.sum(F.col("earlier_any") - F.col("earlier_own"))
            .cast("long")
            .alias("wedges")
        )
        .orderBy(F.col("wedges").desc(), "supp")
        .limit(20)
    )


# Shared rho/register SQL for g43 (HyperBall registers): given a 15-hex
# `tail`, rho = leading-zero-bits + 1 capped at 32 — pure string/CASE
# ops, bit-identical in Spark SQL and DuckDB (no log2/bit_length float
# hazards).
_HB_RHO = """
least(CASE WHEN length(regexp_extract({tail}, '^0*', 0)) >= 8 THEN 33
      ELSE 4 * length(regexp_extract({tail}, '^0*', 0))
           + CASE substr({tail}, length(regexp_extract({tail}, '^0*', 0)) + 1, 1)
               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
               WHEN '7' THEN 1 ELSE 0 END
           + 1 END, 32)
"""


@register(
    "g43_neighborhood_function",
    oracle=f"""
    WITH RECURSIVE cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS MATERIALIZED (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS z FROM und),
    reach(v, u, d) AS (
      SELECT z, z, 0 FROM nodes
      UNION
      SELECT r.v, und.v, r.d + 1
      FROM reach r JOIN und ON und.u = r.u WHERE r.d < 3
    ),
    md AS MATERIALIZED (
      SELECT v, u, MIN(d) AS d FROM reach GROUP BY v, u
    ),
    hs AS MATERIALIZED (
      SELECT u,
             CAST(('0x' || substr(md5('hb' || CAST(u AS VARCHAR)), 16, 1))
                  AS BIGINT) AS j,
             {_HB_RHO.format(tail="substr(md5('hb' || CAST(u AS VARCHAR)), 1, 15)")}
               AS rho
      FROM nodes n2
      JOIN (SELECT DISTINCT u FROM md) mu ON mu.u = n2.z
    ),
    regs AS (
      SELECT t.t, md.v, hs.j, MAX(hs.rho) AS m
      FROM md JOIN hs ON hs.u = md.u
      CROSS JOIN (SELECT unnest([1, 2, 3]) AS t) t
      WHERE md.d <= t.t
      GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT t, v,
             CAST(SUM(CAST(1 AS BIGINT) << (32 - m))
                  + (16 - COUNT(*)) * 4294967296 AS BIGINT) AS sv
      FROM regs GROUP BY 1, 2
    )
    SELECT CAST(t AS INTEGER) AS t,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(sv) AS BIGINT) AS sum_s,
           CAST(MIN(sv) AS BIGINT) AS min_s,
           CAST(MAX(sv) AS BIGINT) AS max_s
    FROM s GROUP BY 1
    """,
)
def g43_neighborhood_function(spark, sf_dir):
    """HyperBall neighborhood function (Boldi/Rosa/Vigna, 2011 — the
    standard way to estimate reachable-set sizes / effective diameter
    on web-scale graphs): every node carries a 16-register HLL counter
    of its t-ball; one superstep per radius merges each node's
    registers with its neighbors' (elementwise max) — shuffle ∝ E×m
    per round, state O(V×m), NO pairwise reachability materialized
    anywhere. That is the whole point at 100 TB: the exact
    neighborhood function is quadratic, the HLL form is linear.

    Integer-exactness contract: register index and rho come from md5
    bits via string/CASE ops only (the shared ``_HB_RHO`` SQL text —
    no log2/bit_length float hazards), rho caps at 32, and the
    reported per-ball statistic is the EXACT integer harmonic-sum
    numerator S_v = Σ_j 2^(32-M_j) (absent register ⇒ 2^32), so both
    engines agree bit-for-bit; the float HLL estimate is
    alpha_16·16²·2³²/S_v, applied by the consumer. The oracle replays
    the registers from the exact ≤3-hop closure (affordable at test
    SF); the Spark side never materializes that closure.

    Substrate: the sparse customer co-purchase projection (≥4 shared
    parts — g30/g31's graph). Reference analog: the reference has no
    neighborhood-function operator; this extends the graph-analytics
    family the 100-TB-native way."""
    und = _copurchase(spark, sf_dir)
    # One row per node, registers r0..r15 (NULL = empty). und is symmetric
    # and every node has a neighbor, so a superstep is one join on
    # v = owner sending regs(v) to u and to v itself, then a max by owner:
    # the state has one consumer per round, so no cut (checkpoint.py).
    # groupBy(owner) lands on und's partitioning on v; shuffle_hash keeps
    # the join co-partitioned. SQL text: one py4j call per projection.
    regs = [f"r{i}" for i in range(16)]
    h = "md5('hb' || CAST(owner AS STRING))"
    state = und.selectExpr("v AS owner").distinct().selectExpr(
        "owner",
        f"CAST(conv(substr({h}, 16, 1), 16, 10) AS INT) AS j",
        f"CAST({_HB_RHO.format(tail=f'substr({h}, 1, 15)')} AS INT) AS rho",
    ).selectExpr("owner", *(f"IF(j = {i}, rho, NULL) AS r{i}" for i in range(16)))
    # S_v = Σ_j 2^(32-M_j), absent register ⇒ 2^32. Radius t's rides to
    # the end as sv_t, set on the node's own row and NULL on the other.
    s_v = " + ".join(f"coalesce(shiftleft(1L, 32 - {r}), 4294967296)" for r in regs)
    for t in (1, 2, 3):
        sv = [f"sv_{i}" for i in range(1, t)]
        own = ["v AS owner", *regs, *sv[:-1], *(f"{s_v} AS {c}" for c in sv[-1:])]
        nbr = ["u AS owner", *regs, *(f"CAST(NULL AS BIGINT) AS {c}" for c in sv)]
        rows = ", ".join(f"struct({', '.join(x)})" for x in (own, nbr))
        state = (
            und.join(state.hint("shuffle_hash"), F.expr("v = owner"))
            .selectExpr(f"inline(array({rows}))")
            .groupBy("owner")
            .agg(*(F.max(c).alias(c) for c in regs + sv))
        )
    reports = ", ".join(
        f"struct({i} AS t, {c} AS sv)" for i, c in enumerate(sv + [s_v], 1)
    )
    return state.selectExpr(f"inline(array({reports}))").groupBy("t").agg(
        F.count("*").alias("n_nodes"), F.sum("sv").alias("sum_s"),
        F.min("sv").alias("min_s"), F.max("sv").alias("max_s"),
    )


@register(
    "g44_bidirectional_shortest_path",
    oracle="""
    WITH RECURSIVE cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    cps AS (SELECT c, p FROM (
              SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
              FROM cp)
            WHERE rn <= 32),
    e AS MATERIALIZED (
      SELECT a.c AS u, b.c AS v
      FROM cps a JOIN cps b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS z FROM und),
    ends AS MATERIALIZED (
      SELECT (SELECT min(z) FROM nodes) AS src,
             (SELECT max(z) FROM nodes) AS dst
    ),
    reach(u, d) AS (
      SELECT src, 0 FROM ends
      UNION
      SELECT und.v, r.d + 1 FROM reach r JOIN und ON und.u = r.u
      WHERE r.d < 8
    )
    SELECT ends.src, ends.dst,
           (SELECT CAST(MIN(d) AS BIGINT) FROM reach
            WHERE u = ends.dst) AS dist
    FROM ends
    """,
)
def g44_bidirectional_shortest_path(spark, sf_dir):
    """BIDIRECTIONAL BFS shortest path between the min- and max-id
    customers of the co-purchase graph — the point-to-point technique
    that matters at 100 TB: expanding from BOTH endpoints and always
    growing the SMALLER frontier costs O(b^(d/2)) state against
    single-source BFS's O(b^d); on a billion-node graph that is the
    difference between feasible and not. Exactness: the loop keeps
    expanding while depth_src + depth_dst <= best-known meeting
    distance (the standard termination proof for unweighted
    bidirectional search), so the reported distance is exact — and the
    oracle checks it against a plain single-source closure. Frontier
    state is O(visited) DataFrames, lineage-cut per level (reliable
    checkpointable); NULL dist = not reachable within 8 hops."""
    und = _copurchase(spark, sf_dir)
    lo, hi = und.agg(F.min("u"), F.max("u")).first()
    src, dst = int(lo), int(hi)

    mk = lambda n: spark.createDataFrame([(n, 0)], "node long, d int")  # noqa: E731
    visited = {"A": mk(src).transform(cut_lineage),
               "B": mk(dst).transform(cut_lineage)}
    frontier = {k: v for k, v in visited.items()}
    fsize = {"A": 1, "B": 1}
    depth = {"A": 0, "B": 0}
    best = None
    for _ in range(8):
        if best is not None and depth["A"] + depth["B"] + 1 > best:
            break
        side = "A" if fsize["A"] <= fsize["B"] else "B"
        if fsize[side] == 0:
            side = "B" if side == "A" else "A"
            if fsize[side] == 0:
                break
        depth[side] += 1
        nxt = (
            frontier[side]
            .join(und, frontier[side].node == und.u)
            .select(F.col("v").alias("node"), F.lit(depth[side]).alias("d"))
            .distinct()
            .join(visited[side].select("node"), "node", "left_anti")
            .transform(cut_lineage)  # consumed by count + meet + union
        )
        fsize[side] = nxt.count()
        frontier[side] = nxt
        visited[side] = visited[side].unionByName(nxt).transform(cut_lineage)
        other = "B" if side == "A" else "A"
        meet = (
            nxt.withColumnRenamed("d", "da")
            .join(visited[other].withColumnRenamed("d", "db"), "node")
            .agg(F.min(F.col("da") + F.col("db")).alias("m"))
            .first()
            .m
        )
        if meet is not None:
            best = meet if best is None else min(best, meet)
    if best is not None and best > 8:
        best = None
    return spark.createDataFrame(
        [(src, dst, best)], "src long, dst long, dist long"
    )


@register(
    "g45_bucketed_follow_parity",
    oracle="""
    SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id
    FROM orders WHERE o_custkey <= 5
    UNION
    SELECT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':' ||
           CAST(l_linenumber AS VARCHAR)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey <= 5
    """,
)
def g45_bucketed_follow_parity(spark, sf_dir):
    """g02's two-hop Or-spec follow run ENTIRELY from the bucketed
    on-disk edge layout (``graph/storage.write_bucketed_edges``: edges
    Hive-partitioned by the source node's md5 bucket): each hop collects
    the frontier's distinct buckets driver-side (bounded by n_buckets,
    node ids never leave the cluster) and binds them as a
    partition-pruning ``isin``, so the scan opens only the directories
    owning frontier nodes — the reference's per-hop remote partition
    lookup (FileStore.fs:281-298) as parquet directory pruning. The
    oracle is g02's, so a hash match proves the layout changes scan
    cost, never answers. At 100 TB this is the traversal plan: a 3-hop
    walk from a handful of seeds over a 4096-bucket edge table opens a
    few directories per hop instead of scanning E three times."""

    from ekati_spark.graph.storage import (
        bucketed_edge_source,
        write_bucketed_edges,
    )

    g = _graph(spark, sf_dir)
    path = mkscratch("g45_edges_") + "/edges"
    write_bucketed_edges(g.edges, path, n_buckets=16)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 5).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias(
            "node_id"
        )
    )
    src = bucketed_edge_source(spark, path)
    return follow(src, seeds, Or(Edge("placed", 1, 1), Edge("contains", 2, 2)))


@register(
    "g46_dsl_end_to_end",
    oracle="""
    SELECT 'order:' || CAST(o_orderkey AS VARCHAR) AS node_id,
           '' AS remote,
           k.key,
           CAST(0 AS BIGINT) AS ts,
           'str' AS dtype,
           CASE k.key WHEN 'totalprice' THEN CAST(o_totalprice AS VARCHAR)
                      ELSE o_orderstatus END AS str,
           CAST(NULL AS BIGINT) AS i64,
           CAST(NULL AS DOUBLE) AS dbl,
           CAST(NULL AS BOOLEAN) AS bool,
           CAST(NULL AS VARCHAR) AS ref
    FROM orders
    JOIN (SELECT unnest(['totalprice', 'orderstatus']) AS key) k ON true
    WHERE o_custkey BETWEEN 1 AND 8 AND o_orderstatus = 'F'
    """,
)
def g46_dsl_end_to_end(spark, sf_dir):
    """The ENTIRE reference surface in one driver-graded pass: a real
    AHGHEE DSL string — seeds |> follow |> filter |> fields — through
    the actual parser (`graph/parser.py`, the ANTLR-grammar analog),
    IR compiler, and `QueryEngine.execute` (the Get-RPC entry point,
    WatService.cs:338-369), returning the engine's long-format
    attribute rows. Every prior g-query calls the compiled operators
    directly; this one attests the parse→IR→execute pipeline itself
    under the DuckDB oracle: hop semantics (follow 1 emits hop-1 nodes,
    never seeds), filter's intended ∃-attribute semantics, the fields
    clude algebra trimming to two keys, and the variant-row
    materialization (dtype/str/ts columns) all have to agree with the
    relational replay bit-for-bit. Plan shape is the same seeded
    traversal as g01/g02 — broadcast frontier joins, label-pruned edge
    scan, semi-join materialization."""
    from ekati_spark.graph.compiler import QueryEngine
    from ekati_spark.graph.model import PropertyGraph

    g = _graph(spark, sf_dir)
    eng = QueryEngine(spark, PropertyGraph(g.props, g.edges))
    seeds = ", ".join(f'"customer:{i}"' for i in range(1, 9))
    return eng.execute(
        f'get {seeds} |> follow "placed" 1 '
        '|> filter "orderstatus" == "F" '
        '|> fields ("totalprice":*, "orderstatus":*)'
    )


@register(
    "g47_reverse_follow",
    oracle="""
    SELECT 'customer:' || CAST(o_custkey AS VARCHAR) AS node_id
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_partkey <= 20
    )
    UNION
    SELECT 'order:' || CAST(l_orderkey AS VARCHAR)
    FROM lineitem WHERE l_partkey <= 20
    """,
)
def g47_reverse_follow(spark, sf_dir):
    """REVERSE traversal — "who points at me", the capability the
    reference's follow lacks (its follow only chases OUTGOING
    NodeID-valued attributes, FileStore.fs:166-220; answering the
    inverse requires a full scan there). Spark-first this is free:
    the same `follow` kernel over the edge relation with (src, dst)
    swapped — from 20 seed parts, walk of_part⁻¹ to the lineitems
    containing them, then contains⁻¹ to their orders, then placed⁻¹
    to the customers (a 3-hop Or-spec emitting hops 2 and 3). At
    100 TB the reversed view is the same bucketed edge table written
    once more bucketed by dst — the standard both-directions layout —
    and every per-hop property (label pushdown, frontier broadcast,
    checkpointed visited set) carries over unchanged."""
    g = _graph(spark, sf_dir)
    rev = g.edges.select(
        F.col("dst").alias("src"),
        "label",
        F.col("src").alias("dst"),
        "ts",
    )
    part = load_table(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_partkey") <= 20).select(
        F.concat(F.lit("part:"), F.col("p_partkey").cast("string")).alias(
            "node_id"
        )
    )
    return follow(
        rev,
        seeds,
        Or(
            Edge("of_part", 1, 1),
            Or(Edge("contains", 2, 2), Edge("placed", 3, 3)),
        ),
    ).filter(~F.col("node_id").startswith("lineitem:"))


def _g48_oracle(m: int = 2048, k: int = 3) -> str:
    from ekati_spark.operators.bloom import BLOOM_POS_SQL

    pos = BLOOM_POS_SQL.format(j="j", val="id", m=m)
    return f"""
    WITH j AS (SELECT unnest(range({k})) AS j),
    seeds AS (
      SELECT 'customer:' || CAST(c_custkey AS VARCHAR) AS id
      FROM customer WHERE c_custkey <= 10
    ),
    vp1 AS (SELECT DISTINCT {pos} AS pos FROM seeds, j),
    h1c AS (
      SELECT DISTINCT 'order:' || CAST(o_orderkey AS VARCHAR) AS id
      FROM orders WHERE o_custkey <= 10
      UNION
      SELECT DISTINCT 'nation:' || CAST(c_nationkey AS VARCHAR)
      FROM customer WHERE c_custkey <= 10
    ),
    k1 AS (
      SELECT id FROM (
        SELECT id, SUM(CASE WHEN {pos} IN (SELECT pos FROM vp1)
                       THEN 1 ELSE 0 END) AS s
        FROM h1c, j GROUP BY id
      ) WHERE s < {k}
    ),
    vp2 AS (
      SELECT pos FROM vp1
      UNION SELECT DISTINCT {pos} FROM k1, j
    ),
    h2c AS (
      SELECT DISTINCT 'lineitem:' || CAST(l_orderkey AS VARCHAR) || ':'
               || CAST(l_linenumber AS VARCHAR) AS id
      FROM lineitem
      WHERE 'order:' || CAST(l_orderkey AS VARCHAR) IN (SELECT id FROM k1)
      UNION
      SELECT DISTINCT 'region:' || CAST(n_regionkey AS VARCHAR)
      FROM nation
      WHERE 'nation:' || CAST(n_nationkey AS VARCHAR) IN (SELECT id FROM k1)
    ),
    k2 AS (
      SELECT id FROM (
        SELECT id, SUM(CASE WHEN {pos} IN (SELECT pos FROM vp2)
                       THEN 1 ELSE 0 END) AS s
        FROM h2c, j GROUP BY id
      ) WHERE s < {k}
    )
    SELECT CAST(1 AS INTEGER) AS hop, id AS node_id FROM k1
    UNION ALL
    SELECT CAST(2 AS INTEGER), id FROM k2
    """


@register("g48_bloom_visited_traversal", oracle=_g48_oracle())
def g48_bloom_visited_traversal(spark, sf_dir):
    """The REFERENCE's traversal-dedup semantics, reproduced and
    attested: the reference deduplicates its follow frontier with a
    BLOOM visited-set that accepts false-positive DROPS (a never-seen
    node whose k bits happen to be set is silently treated as visited
    — SURVEY §2 row 17; our production `follow` uses the exact
    anti-join superset instead). Here the same semantics run under the
    oracle: visited = md5-replayable bloom bits (operators/bloom.py)
    seeded with the frontier, each hop's candidates are kept only if
    some bit is unset, kept nodes' bits join the filter, and dropped
    nodes do NOT expand. The fixture m=2048 is deliberately tight so
    drops actually occur at the graded SF, and the oracle replays the
    exact kept/dropped partition — the reference's lossy behavior
    becomes a hash-attested contract instead of an implementation
    accident. At 100 TB the trade is explicit: O(m) visited-set memory
    per hop (vs the anti-join's shuffle over the visited table) priced
    at a sized, attested drop rate. Reference analog: FileStore.fs
    follow-stream bloom dedup (row 17)."""
    import numpy as np

    import ekati_spark.operators.bloom as BL

    M, K = 2048, 3
    g = _graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = cust.filter(F.col("c_custkey") <= 10).select(
        F.concat(
            F.lit("customer:"), F.col("c_custkey").cast("string")
        ).alias("v")
    )
    bm = BL.bloom_bitmap(seeds, "v", M, K)
    frontier = seeds.withColumnRenamed("v", "src")
    out = []
    for hop in (1, 2):
        cand = (
            g.edges.join(F.broadcast(frontier), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        kept = (
            BL.bloom_probe(cand, "v", bm, M, K)
            .filter(~F.col("is_candidate"))
            .select("v")
            .transform(cut_lineage)  # expands next hop AND lands in out
        )
        out.append(
            kept.select(
                F.lit(hop).cast("int").alias("hop"),
                F.col("v").alias("node_id"),
            )
        )
        if hop == 1:
            bm = np.bitwise_or(bm, BL.bloom_bitmap(kept, "v", M, K))
            frontier = kept.withColumnRenamed("v", "src")
    return out[0].unionByName(out[1])


@register(
    "g49_trade_backbone_mst",
    oracle="""
    WITH RECURSIVE pair AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             CAST(SUM(w) AS BIGINT) AS vol
      FROM pair GROUP BY 1, 2
    ),
    wk AS (
      SELECT u, v, vol, vol * 1000000 - (u * 1000 + v) AS wkey FROM und
    ),
    n0 AS (
      SELECT min(x) AS s FROM (SELECT u AS x FROM wk
                               UNION ALL SELECT v FROM wk)
    ),
    -- Prim from the min node, re-emitting the full visited set per
    -- iteration (the g20 idiom): distinct wkeys make the MST unique,
    -- so this sequential replay must equal the engine's Borůvka.
    grow(it, node, eu, ev, evol) AS (
      SELECT 0, s, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
             CAST(NULL AS BIGINT)
      FROM n0
      UNION ALL
      SELECT * FROM (
        WITH mi AS (SELECT max(it) AS mi FROM grow),
        crossing AS (
          SELECT wk.u, wk.v, wk.vol, wk.wkey,
                 CASE WHEN EXISTS (SELECT 1 FROM grow g
                                   WHERE g.node = wk.u)
                      THEN wk.v ELSE wk.u END AS nn
          FROM wk
          WHERE EXISTS (SELECT 1 FROM grow g WHERE g.node = wk.u)
             <> EXISTS (SELECT 1 FROM grow g WHERE g.node = wk.v)
        ),
        pick AS (SELECT * FROM crossing ORDER BY wkey DESC LIMIT 1)
        SELECT mi.mi + 1, g.node, g.eu, g.ev, g.evol
        FROM grow g, mi WHERE EXISTS (SELECT 1 FROM pick)
        UNION ALL
        SELECT mi.mi + 1, pick.nn, pick.u, pick.v, pick.vol
        FROM pick, mi
      )
    )
    SELECT CAST(eu AS INTEGER) AS u, CAST(ev AS INTEGER) AS v,
           evol AS vol
    FROM grow
    WHERE it = (SELECT max(it) FROM grow) AND eu IS NOT NULL
    """,
)
def g49_trade_backbone_mst(spark, sf_dir):
    """TRADE BACKBONE: the maximum spanning tree of the inter-nation
    trade graph (edge weight = total lineitems shipped between the two
    nations in either direction) — the spanning subnetwork that keeps
    every nation connected through its strongest trade relationships,
    computed with BORŮVKA hooking (graph/algorithms.py::boruvka_msf),
    the one MST algorithm that distributes (per-round per-component
    argmax + star contraction, ≤ log2(V) rounds; Prim/Kruskal are
    sequential by construction). Weights are made DISTINCT by folding
    the edge id into integer nanokeys (vol*1e6 − (u*1000 + v); nation
    ids < 1000 — at wider id spaces widen the fold), which makes the
    MST unique — so the DuckDB oracle replays sequential PRIM from the
    min node (the g20 full-set-re-emission recursive CTE) and must
    produce the identical edge set: an algorithm-independent
    cross-check, stronger than a step replay. Output restricted to
    the min node's component on both sides (the trade graph is
    connected at every test SF; the restriction keeps the contract
    well-defined if a regenerated dataset ever disconnects it).

    Scale shape: the weighted projection is one groupBy over the
    4-table join (the g22/g23 substrate); Borůvka state is O(V) with
    a handful of comp/edge-keyed shuffles per round. At 100 TB the
    nation graph is still tiny — the kernel is registered for its
    algorithm (it runs unchanged on a billion-node co-purchase
    projection), the substrate for its oracle-checkable weights."""
    from ekati_spark.graph.algorithms import boruvka_msf

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pair = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    und = pair.groupBy(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).agg(F.sum("w").cast("long").alias("vol"))
    wk = und.select(
        "u", "v", "vol",
        F.expr("vol * 1000000L - (u * 1000L + v)").alias("wkey"),
    ).transform(cut_lineage)  # consumed per Borůvka round + node scan
    msf, comp = boruvka_msf(wk)
    root0 = (
        comp.join(
            comp.groupBy().agg(F.min("node").alias("node")), "node"
        )
        .select(F.col("comp").alias("root"))
    )
    kept = (
        msf.join(
            comp.select(F.col("node").alias("u"), "comp"), "u"
        )
        .join(F.broadcast(root0), F.col("comp") == F.col("root"), "left_semi")
    )
    return kept.select(
        F.col("u").cast("int").alias("u"),
        F.col("v").cast("int").alias("v"),
        # exact inverse of the distinctness fold
        F.expr("(wkey + u * 1000L + v) div 1000000L").alias("vol"),
    )


@register(
    "g50_trade_single_linkage",
    oracle="""
    WITH RECURSIVE pair AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             CAST(SUM(w) AS BIGINT) AS vol
      FROM pair GROUP BY 1, 2
    ),
    wk AS (
      SELECT u, v, vol, vol * 1000000 - (u * 1000 + v) AS wkey FROM und
    ),
    n0 AS (
      SELECT min(x) AS s FROM (SELECT u AS x FROM wk
                               UNION ALL SELECT v FROM wk)
    ),
    grow(it, node, eu, ev, ewkey) AS (
      SELECT 0, s, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
             CAST(NULL AS BIGINT)
      FROM n0
      UNION ALL
      SELECT * FROM (
        WITH mi AS (SELECT max(it) AS mi FROM grow),
        crossing AS (
          SELECT wk.u, wk.v, wk.wkey,
                 CASE WHEN EXISTS (SELECT 1 FROM grow g
                                   WHERE g.node = wk.u)
                      THEN wk.v ELSE wk.u END AS nn
          FROM wk
          WHERE EXISTS (SELECT 1 FROM grow g WHERE g.node = wk.u)
             <> EXISTS (SELECT 1 FROM grow g WHERE g.node = wk.v)
        ),
        pick AS (SELECT * FROM crossing ORDER BY wkey DESC LIMIT 1)
        SELECT mi.mi + 1, g.node, g.eu, g.ev, g.ewkey
        FROM grow g, mi WHERE EXISTS (SELECT 1 FROM pick)
        UNION ALL
        SELECT mi.mi + 1, pick.nn, pick.u, pick.v, pick.wkey
        FROM pick, mi
      )
    ),
    mst AS (
      SELECT eu AS u, ev AS v, ewkey AS wkey
      FROM grow
      WHERE it = (SELECT max(it) FROM grow) AND eu IS NOT NULL
    ),
    -- single-linkage at k=4: cut the 3 weakest tree edges
    kept AS (
      SELECT u, v FROM (
        SELECT u, v, row_number() OVER (ORDER BY wkey ASC) AS rn
        FROM mst)
      WHERE rn > 3
    ),
    nodes AS (SELECT DISTINCT x AS node FROM (
      SELECT u AS x FROM wk UNION ALL SELECT v FROM wk)),
    -- min-label propagation to fixpoint over the kept forest
    lab(it, node, lbl) AS (
      SELECT 0, node, node FROM nodes
      UNION ALL
      SELECT * FROM (
        WITH mi AS (SELECT max(it) AS mi FROM lab),
        nxt AS (
          SELECT l.node, least(l.lbl, coalesce(min(nl.lbl), l.lbl)) AS lbl
          FROM lab l
          LEFT JOIN (
            SELECT k.u AS a, k.v AS b FROM kept k
            UNION ALL SELECT k.v, k.u FROM kept k
          ) e ON l.node = e.a
          LEFT JOIN lab nl ON nl.node = e.b
          GROUP BY l.node, l.lbl
        )
        SELECT mi.mi + 1, nxt.node, nxt.lbl FROM nxt, mi
        WHERE mi.mi < 30
          AND EXISTS (
            SELECT 1 FROM nxt n2 JOIN lab l2 ON n2.node = l2.node
            WHERE n2.lbl < l2.lbl)
      )
    ),
    final AS (
      SELECT node, lbl FROM lab
      WHERE it = (SELECT max(it) FROM lab)
    )
    SELECT CAST(f.lbl AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(min(f.node) AS INTEGER) AS min_nation,
           CAST(max(f.node) AS INTEGER) AS max_nation
    FROM final f
    GROUP BY f.lbl
    """,
)
def g50_trade_single_linkage(spark, sf_dir):
    """SINGLE-LINKAGE clustering of the nation trade graph at k=4 —
    the classic MST-cut formulation (single-linkage dendrogram ==
    maximum spanning tree; cutting the k−1 WEAKEST tree edges yields
    exactly the k single-linkage clusters): composes g49's Borůvka
    MST, drops the 3 smallest-wkey edges (a k−1-row top-k, never a
    sort of the graph), and labels the surviving forest with
    alternating large-star/small-star contraction
    (graph/algorithms.connected_components_star) — the cut forest is
    TREE-shaped, so its diameter can approach its node count and
    min-label propagation would need O(diameter) supersteps; star
    contraction converges in O(log² n) rounds regardless, and both
    label components by min node id, so the oracle's min-label
    fixpoint CTE agrees exactly.
    Output: one row per cluster with size and id range. Distinct
    weight keys make the dendrogram unique, so the oracle replays
    Prim + the same cut + a min-label fixpoint CTE and must agree
    exactly. Scale shape: g49's (O(V) state, ≤ log2 V rounds) plus a
    CC pass over a TREE (≤ V−1 edges); the cut is a broadcast-sized
    top-k. Single-linkage on a billion-node near-dup graph is this
    exact plan with the co-purchase substrate swapped in."""
    from ekati_spark.graph.algorithms import (
        boruvka_msf,
        connected_components_star,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pair = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    und = pair.groupBy(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).agg(F.sum("w").cast("long").alias("vol"))
    wk = und.select(
        "u", "v",
        F.expr("vol * 1000000L - (u * 1000L + v)").alias("wkey"),
    ).transform(cut_lineage)
    msf, _comp = boruvka_msf(wk)
    from pyspark.sql import Window as _W

    cut = (
        msf.withColumn(
            "rn", F.row_number().over(_W.orderBy(F.asc("wkey")))
        )
        .filter(F.col("rn") > 3)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    nodes = wk.select(F.col("u").alias("node_id")).unionByName(
        wk.select(F.col("v").alias("node_id"))
    ).distinct()
    labeled = connected_components_star(cut)
    # isolated nodes (everything their cluster lost) keep their own id
    full = nodes.join(labeled, "node_id", "left").select(
        "node_id",
        F.coalesce("component", "node_id").alias("cluster"),
    )
    return full.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_nations"),
        F.min("node_id").cast("int").alias("min_nation"),
        F.max("node_id").cast("int").alias("max_nation"),
    ).select(
        F.col("cluster").cast("int").alias("cluster"),
        "n_nations", "min_nation", "max_nation",
    )
