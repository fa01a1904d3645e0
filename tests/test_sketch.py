"""Misra-Gries heavy hitters (operators/sketch.py) and the HITS kernel
(g32): exactness contracts and partitioning invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ekati_spark.operators.sketch import misra_gries_heavy_hitters


@pytest.fixture(scope="module")
def skewed(spark):
    # 3 heavy keys (600/300/150 rows) over a long uniform tail of 200
    # singleton keys — the regime the sketch exists for.
    rows = (
        [("hot", 1)] * 600
        + [("hot", 2)] * 300
        + [("warm", 3)] * 150
        + [("tail", 1000 + i) for i in range(200)]
    )
    return spark.createDataFrame(rows, "kind string, uid long").repartition(8)


def _exact_topk(df, k):
    return (
        df.groupBy("kind", "uid")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "kind", "uid")
        .limit(k)
        .collect()
    )


def test_mg_matches_exact_topk(spark, skewed):
    got = misra_gries_heavy_hitters(skewed, ["kind", "uid"], k=3, capacity=1024)
    assert got.collect() == _exact_topk(skewed, 3)


def test_mg_small_capacity_still_finds_heavy_keys(spark, skewed):
    # capacity 16 << 203 distinct keys forces batched MG decrements in
    # every partition; N/(cap+1) = 1250/17 ≈ 74 < the heavy counts, so
    # the contract guarantees all three heavy keys survive to the exact
    # re-count and the top-3 is still exact.
    got = misra_gries_heavy_hitters(skewed, ["kind", "uid"], k=3, capacity=16)
    assert got.collect() == _exact_topk(skewed, 3)


def test_mg_invariant_to_partitioning(spark, skewed):
    a = misra_gries_heavy_hitters(
        skewed.repartition(2), ["kind", "uid"], k=3, capacity=16
    ).collect()
    b = misra_gries_heavy_hitters(
        skewed.repartition(13), ["kind", "uid"], k=3, capacity=16
    ).collect()
    assert a == b


def test_mg_summaries_are_bounded(spark, skewed):
    # The first pass must emit ≤ capacity rows per partition — the
    # bounded-memory claim the 100 TB story rests on. Recompute the
    # summary stage standalone and count rows per partition.
    keyed = skewed.repartition(4)
    cap = 16
    mg_df = keyed.select("kind", "uid").mapInPandas(
        _summary_fn(["kind", "uid"], cap), schema="kind string, uid long, mg_lb bigint"
    )
    per_part = (
        mg_df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r.n <= cap for r in per_part)


def _summary_fn(key_cols, capacity):
    def mg_summaries(batches):
        import pandas as pd

        counts = {}
        for pdf in batches:
            if pdf.empty:
                continue
            vc = pdf.groupby(key_cols, sort=False, dropna=True).size()
            for key, c in vc.items():
                kt = key if isinstance(key, tuple) else (key,)
                counts[kt] = counts.get(kt, 0) + int(c)
            if len(counts) > capacity:
                d = sorted(counts.values(), reverse=True)[capacity]
                counts = {kk: v - d for kk, v in counts.items() if v > d}
        if counts:
            yield pd.DataFrame(
                [(*kk, v) for kk, v in counts.items()],
                columns=[*key_cols, "mg_lb"],
            )

    return mg_summaries


# -- HITS (g32) -------------------------------------------------------------


def test_hits_fixed_point_matches_numpy_replay(spark, sf_dir):
    """g32's integer fixed-point rounds replayed in plain Python on the
    collected (tiny at sf0.001) edge list must reproduce every score."""
    from ekati_spark.queries.graph import g32_hits

    got = {(r.role, r.entity): r.score_ppm for r in g32_hits(spark, sf_dir).collect()}

    from ekati_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("w"))
        .collect()
    )
    PPM = 1_000_000

    def norm(d):
        m = max(d.values())
        return {k: v * PPM // m for k, v in d.items()}

    # Replay exactly the query's schedule: a0 -> h1 -> a2 -> h2.
    a = {}
    for r in w:
        a[r.s] = a.get(r.s, 0) + r.w
    a = norm(a)
    h = {}
    for r in w:
        h[r.c] = h.get(r.c, 0) + r.w * a[r.s]
    h = norm(h)
    a2 = {}
    for r in w:
        a2[r.s] = a2.get(r.s, 0) + r.w * h[r.c]
    a = norm(a2)
    h = {}
    for r in w:
        h[r.c] = h.get(r.c, 0) + r.w * a[r.s]
    h = norm(h)

    top_a = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    top_h = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = {("authority", k): v for k, v in top_a} | {("hub", k): v for k, v in top_h}
    assert got == want


# -- multi-source BFS (g33 kernel) ------------------------------------------


def test_multi_source_hops_matches_per_seed_bfs(spark):
    """Per-seed distances from the combined frontier must equal a plain
    Python BFS from each seed over the same edge list, cut at the same
    hop bound."""
    from collections import deque

    from ekati_spark.graph.algorithms import multi_source_hops

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 5), (7, 8)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    und = edges.unionByName(
        edges.selectExpr("dst as src", "src as dst")
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(1,), (7,)], "node_id long")
    got = {
        (r.seed, r.node_id): r.hops
        for r in multi_source_hops(und, seeds, max_hops=4).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    want = {}
    for s in (1, 7):
        dist, todo = {s: 0}, deque([s])
        while todo:
            u = todo.popleft()
            for v in adj.get(u, ()):
                if v not in dist and dist[u] < 4:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        want.update({(s, v): d for v, d in dist.items()})
    assert got == want
    # seed 1 reaches 5 in 3 hops (1-2-6-5), seed 7 only reaches 8
    assert got[(1, 5)] == 3 and got[(7, 8)] == 1 and (7, 5) not in got


def test_multi_source_hops_result_takes_a_filter(spark):
    """g33's shape: seeds filtered out of the edge relation, and a
    filter over the result. Each round's cut must carry constraints on
    its own columns only; one that kept the frontier's ``f.seed`` failed
    constraint inference over the union of rounds (key not found)."""
    from ekati_spark.graph.algorithms import multi_source_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 5), (7, 8)],
        "src long, dst long",
    )
    und = edges.unionByName(
        edges.selectExpr("dst as src", "src as dst")
    ).localCheckpoint(eager=True)
    seeds = und.select(F.col("src").alias("node_id")).filter(
        F.col("node_id").isin(1, 7)
    )
    hops = multi_source_hops(und, seeds, max_hops=4)
    got = {
        (r.seed, r.node_id): r.hops
        for r in hops.filter(F.col("hops") > 0).collect()
    }
    assert got == {
        (1, 2): 1, (1, 3): 2, (1, 6): 2, (1, 4): 3, (1, 5): 3, (7, 8): 1,
    }


def test_ngram_novelty_curve_tiny_corpus(spark):
    from ekati_spark.operators.text import ngram_novelty_curve

    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "a b")], "doc_id long, text string"
    )
    got = {r.n: r for r in ngram_novelty_curve(docs, max_n=3).collect()}
    # unigrams: 5 occurrences (a,a,a,a,b), 2 distinct
    assert (got[1].total_ngrams, got[1].distinct_ngrams) == (5, 2)
    # bigrams: "a a","a a","a b" -> 3 occurrences, 2 distinct
    assert (got[2].total_ngrams, got[2].distinct_ngrams) == (3, 2)
    # trigrams: only doc 1 is long enough -> 1 occurrence, 1 distinct
    assert (got[3].total_ngrams, got[3].distinct_ngrams) == (1, 1)
    assert got[2].novelty == 0.666667  # floor(2/3*1e6+0.5)/1e6


# -- temporal reachability (g35 kernel) -------------------------------------


def test_earliest_arrival_respects_time_ordering(spark):
    """Static reachability says 3 is reachable from 1 (1->2->3); the
    temporal kernel must refuse it because the 2->3 contact (t=3)
    happens BEFORE arrival at 2 (t=5), while 2->4 (t=7) is valid."""
    from ekati_spark.graph.algorithms import earliest_arrival

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3), (2, 4, 7), (4, 5, 7), (4, 6, 9)],
        "src long, dst long, t int",
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(1, -1)], "node_id long, t0 int")
    got = {r.node_id: r.t for r in earliest_arrival(edges, seeds).collect()}
    # 5 unreachable too: 4->5 at t=7 requires arrival at 4 BEFORE 7
    assert got == {1: -1, 2: 5, 4: 7, 6: 9}


def test_earliest_arrival_budget_is_loud(spark):
    """A strictly time-increasing chain of 5 contacts needs 5 rounds: a
    budget of 5 converges to the full chain, a budget of 4 raises
    instead of returning the first 4 arrivals."""
    from ekati_spark.graph.algorithms import earliest_arrival

    edges = spark.createDataFrame(
        [(i, i + 1, 10 * (i + 1)) for i in range(5)],
        "src long, dst long, t int",
    )
    seeds = spark.createDataFrame([(0, -1)], "node_id long, t0 int")
    got = {
        r.node_id: r.t
        for r in earliest_arrival(edges, seeds, max_rounds=5).collect()
    }
    assert got == {0: -1, 1: 10, 2: 20, 3: 30, 4: 40, 5: 50}
    with pytest.raises(RuntimeError, match="still improving"):
        earliest_arrival(edges, seeds, max_rounds=4)


# -- k-truss (g36 kernel) ---------------------------------------------------


def test_k_truss_known_graph_and_empty_case(spark):
    """K4 (every edge in 2 triangles) survives a 4-truss; a pendant
    triangle hanging off it is peeled (support 1); a lone triangle's
    4-truss is EMPTY."""
    from ekati_spark.graph.algorithms import k_truss

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 5), (4, 6), (5, 6)]  # triangle sharing node 4
    e = spark.createDataFrame(k4 + pendant, "u long, v long")
    got = sorted((r.u, r.v) for r in k_truss(e, k=4).collect())
    assert got == sorted(k4)

    lone = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "u long, v long")
    assert k_truss(lone, k=4).count() == 0


def test_k_truss_budget_is_loud(spark):
    """A diamond (K4 minus one edge) beside a K4 needs two peel rounds
    for a 4-truss: round one drops the diamond's four rim edges
    (support 1), which leaves its middle edge with support 0 for round
    two. One round must raise instead of returning that superset."""
    from ekati_spark.graph.algorithms import k_truss

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    diamond = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13)]
    e = spark.createDataFrame(k4 + diamond, "u long, v long")
    got = sorted((r.u, r.v) for r in k_truss(e, k=4).collect())
    assert got == sorted(k4)
    with pytest.raises(RuntimeError, match="did not converge"):
        k_truss(e, k=4, max_iter=1)


def test_apportionment_sums_exactly_to_budget(spark, sf_dir):
    """Hamilton quotas must sum EXACTLY to the budget (the property
    naive per-group rounding violates) and never undercut the floor
    share."""
    from ekati_spark.queries.llm import l60_eval_apportionment

    rows = l60_eval_apportionment(spark, sf_dir).collect()
    total_docs = sum(r.n_docs for r in rows)
    assert sum(r.quota for r in rows) == 200
    for r in rows:
        assert r.quota >= (200 * r.n_docs) // total_docs
        assert r.quota <= (200 * r.n_docs) // total_docs + 1


def test_kmv_bottomk_merge_associativity():
    """The property st15's streaming sketch rests on, checked
    exhaustively with hypothesis: bottom-k of a union equals bottom-k
    of the merged per-part bottom-k sets, for any split and any k."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        a=st.sets(st.integers(min_value=0, max_value=10**6), max_size=60),
        b=st.sets(st.integers(min_value=0, max_value=10**6), max_size=60),
        k=st.integers(min_value=1, max_value=16),
    )
    def check(a, b, k):
        direct = sorted(a | b)[:k]
        merged = sorted(set(sorted(a)[:k]) | set(sorted(b)[:k]))[:k]
        assert direct == merged

    check()


def test_countmin_never_undercounts(spark):
    """CM's one-sided error: for EVERY key (not just the reported
    top-20), min-over-rows counter >= true frequency."""
    import hashlib

    rows = [(i % 37,) for i in range(1500)] + [(5,)] * 50
    df = spark.createDataFrame(rows, "user_id long")
    from collections import Counter

    truth = Counter(u for (u,) in rows)
    D, WID = 4, 256

    def bucket(d, u):
        return (
            int(hashlib.md5(f"{d}:{u}".encode()).hexdigest()[:13], 16) % WID
        )

    counters = Counter()
    for (u,) in rows:
        for d in range(D):
            counters[(d, bucket(d, u))] += 1
    for u, n in truth.items():
        est = min(counters[(d, bucket(d, u))] for d in range(D))
        assert est >= n
