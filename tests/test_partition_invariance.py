"""Partition-count invariance: the property that makes local[32] results
transfer to a 1000-executor cluster.

Every judged query must produce a bit-identical canonical fingerprint
regardless of ``spark.sql.shuffle.partitions`` — i.e. regardless of how
many reducers the partial aggregates/joins are merged across and in what
order. This is the load-bearing determinism claim in SURVEY.md §5 /
queries/base.py (decimal accumulation for double sums, md5-prefix draws
for sampling, total-order tie-breaks for top-k); this test checks it
end-to-end instead of trusting the policy.

A representative query per hazard class runs twice in the same session
with shuffle.partitions=3 then =17 (coprime, different merge trees; AQE
stays on, as in production) and the sorted-row sha256 fingerprints must
match. Reference analog: the reference is single-node so it gets this
for free (SURVEY.md §4); we have to earn it.
"""

from __future__ import annotations

import hashlib

import pytest

import ekati_spark.queries as Q

SF = "/root/testdata/sf0.001"

# One per hazard class, cheapest member chosen (runtime matters — each
# case runs twice):
CASES = [
    # double SUM/AVG via decimal accumulation (merge-order hazard)
    "r03_pricing_summary",
    # percentile_approx-free exact percentiles (sort-based)
    "r39_percentiles",
    # per-group top-k with tie-break (row_number determinism)
    "r17_window_topk_per_group",
    # hash-groupBy dedup digest counts
    "l01_dedup_exact",
    # banded-LSH self-join pair generation (join-order hazard)
    "l03_minhash_lsh_pairs",
    # iterative star-CC over the dup subgraph (checkpointed loop)
    "l20_dedup_groups",
    # md5-prefix deterministic sampling (must not touch RNG/partition id)
    "l21_stratified_sample",
    # deterministic global shuffle (rank assignment across partitions)
    "l32_global_shuffle",
    # the same with a stage column (curriculum order), and the sampled
    # range layout with in-row neighbors (suffix-array sort)
    "l51_curriculum_order",
    "l132_suffix_dedup_spans",
    # iterative PageRank (float accumulation across partitions)
    "g13_pagerank",
    # BFS traversal with visited-set dedup
    "g02_follow_two_hop",
    # the min-relaxation kernel's min-merge: bounded Bellman-Ford and
    # earliest arrival
    "g23_cheapest_trade_route",
    "g35_temporal_reachability",
    # the served DSL path (follow, filter, fields, latest-wins window)
    # over the FK graph store, its edges laid out on dst at the store's
    # first build and served at 3 and 17
    "g46_dsl_end_to_end",
    # supersteps over a session-stored relation built at one partition
    # count (the first run's, or an earlier test's), run at 3 and 17
    "g43_neighborhood_function",
    # graph-ANN serves over session-stored graphs and corpus, likewise
    # built at one partition count and served at 3 and 17
    "l133_knn_graph_serve",
    "l136_knn_graph_route_serve",
    # margin scoring as a window chain: decimal window sums and
    # row_number ties
    "l45b_bitext_margin_ann",
    # sessionization windows over event time
    "st03_session_window",
    # the as-of union+window pass: rows of one key in shuffle order
    # under a running max (backward) and min (forward, with tolerance)
    "r37_asof_join",
    "r68_asof_forward_tolerance",
]


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "\N{NULL}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _fingerprint(df) -> str:
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "\x1f".join(_canon(r[i]) for i in order)
        for r in (tuple(x) for x in df.collect())
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


@pytest.mark.parametrize("name", CASES)
def test_shuffle_partition_invariance(spark, name):
    fn = Q.REGISTRY[name].fn
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        fp3 = _fingerprint(fn(spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        fp17 = _fingerprint(fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert fp3 == fp17, (
        f"{name}: result depends on shuffle partition count "
        f"(3 -> {fp3[:12]}, 17 -> {fp17[:12]}) — would not transfer to a "
        f"different cluster size"
    )
