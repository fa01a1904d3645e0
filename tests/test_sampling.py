"""Deterministic-sampling tests: reproducibility, stratified rates,
split partitioning, rate accuracy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ekati_spark.catalog import load_table
from ekati_spark.operators import sampling as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_hash_sample_deterministic_and_append_stable(spark, docs):
    ids1 = {r.doc_id for r in S.hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    ids2 = {r.doc_id for r in S.hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    assert ids1 == ids2
    # membership depends only on the key: sampling a subset agrees
    sub = S.hash_sample(docs.filter(F.col("doc_id") < 100), "doc_id", 0.3)
    assert {r.doc_id for r in sub.select("doc_id").collect()} == {
        i for i in ids1 if i < 100
    }


def test_hash_sample_rate_within_tolerance(spark):
    n = 20000
    df = spark.range(n).withColumnRenamed("id", "k")
    got = S.hash_sample(df, "k", 0.25).count()
    assert abs(got / n - 0.25) < 0.02


def test_hash_sample_rate_one_keeps_all(spark, docs):
    assert S.hash_sample(docs, "doc_id", 1.0).count() == docs.count()


def test_stratified_rates_respected(spark, docs):
    out = S.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.0}, default_rate=1.0
    )
    kept = out.groupBy("lang").count().collect()
    langs = {r.lang: r["count"] for r in kept}
    base = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    assert "en" not in langs
    for lang, cnt in base.items():
        if lang != "en":
            assert langs[lang] == cnt


def test_split_is_a_partition(spark, docs):
    out = S.train_val_test_split(docs, "doc_id", 0.1, 0.1)
    assert out.count() == docs.count()
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    # independent of the sampling draw on the same key: both splits
    # contain sampled and unsampled rows
    both = S.hash_sample(out, "doc_id", 0.5).groupBy("split").count().collect()
    assert {r.split for r in both} == set(counts)


def test_threshold_edges():
    with pytest.raises(ValueError):
        S._threshold(1.5)
    assert S._threshold(1.0) == "g"
    assert S._threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        S.train_val_test_split(None, "k", 0.6, 0.5)


def test_out_of_range_rate_raises_everywhere(spark, docs):
    with pytest.raises(ValueError):
        S.hash_sample(docs, "doc_id", 1.5).count()
    with pytest.raises(ValueError):
        S.sample_predicate(F.col("doc_id"), -0.1)


def test_domain_mix_hits_target_weights(spark):
    rows = (
        [(i, "a") for i in range(8000)]
        + [(8000 + i, "b") for i in range(1000)]
        + [(9000 + i, "c") for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "k long, dom string")
    out = S.domain_mix(df, "k", "dom", {"a": 1.0, "b": 1.0, "c": 2.0})
    got = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    # c has the max weight-per-row => keeps everything
    assert got["c"] == 1000
    # a and b target 500 each (rates 1/16 and 1/2)
    assert abs(got["a"] - 500) < 75
    assert abs(got["b"] - 500) < 75
    # deterministic: same rows on rerun
    again = S.domain_mix(df, "k", "dom", {"a": 1.0, "b": 1.0, "c": 2.0})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_domain_mix_default_weight_drops_unlisted(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "x") for i in range(100)], "k long, dom string"
    )
    out = S.domain_mix(df, "k", "dom", {"a": 1.0})  # default weight 0.0
    assert {r.dom for r in out.select("dom").distinct().collect()} == {"a"}


def test_global_shuffle_is_deterministic_permutation(spark):
    df = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    out1 = S.global_shuffle(df, "k", num_partitions=8)
    rows = out1.collect()
    assert sorted(r.pos for r in rows) == list(range(1, 5001))
    m1 = {r.k: r.pos for r in rows}
    m2 = {r.k: r.pos for r in S.global_shuffle(df, "k", num_partitions=8).collect()}
    assert m1 == m2
    # a different salt draws a different permutation
    m3 = {r.k: r.pos for r in S.global_shuffle(df, "k", salt="other", num_partitions=8).collect()}
    assert m3 != m1


def test_global_shuffle_bucket_path_matches_window_reference(spark):
    """The no-prefix path pins its range boundaries analytically from
    the md5 prefix (no sampled range exchange, no persist) — the
    assigned positions must still equal the naive single-window
    ``row_number() OVER (ORDER BY md5(salt||key), key)`` reference
    bit-for-bit, at any partition count."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(i,) for i in range(3000)], "k long")
    h = F.md5(F.concat(F.lit("shuf"), F.col("k").cast("string")))
    ref = {
        r.k: r.pos
        for r in df.withColumn(
            "pos", F.row_number().over(Window.orderBy(h, F.col("k")))
        ).collect()
    }
    for n in (1, 7, 64):
        got = {
            r.k: r.pos
            for r in S.global_shuffle(df, "k", num_partitions=n).collect()
        }
        assert got == ref, f"num_partitions={n}"


def _positions(out, key, col="pos"):
    return {r[key]: r[col] for r in out.collect()}


def test_global_shuffle_null_keys_and_stages_match_window_reference(spark):
    """NULL keys hash to NULL and sort first within their stage; with
    and without a stage column, the positions equal the single-window
    ``row_number() OVER (ORDER BY stage, md5(salt||key), key)``
    reference at any partition count."""
    from pyspark.sql import Window

    rows = [(i, None, i % 4) for i in range(9)] + [
        (i, i, (i * 7) % 4) for i in range(9, 800)
    ]
    df = spark.createDataFrame(rows, "rid long, k long, stage int")
    h = F.md5(F.concat(F.lit("shuf"), F.col("k").cast("string")))
    # tied NULL keys may take their stage block's first positions in any
    # order; every other row's position is exact
    nulls = {rid: stage for rid, k, stage in rows if k is None}
    for stage_col, order in ((None, [h, "k"]), ("stage", ["stage", h, "k"])):
        # row ids tell the NULL-key rows apart
        ref = _positions(
            df.withColumn(
                "pos", F.row_number().over(Window.orderBy(*order, "rid"))
            ),
            "rid",
        )
        if stage_col is None:
            assert {ref[i] for i in range(9)} == set(range(1, 10))
        for n in (1, 7, 64):
            got = _positions(
                S.global_shuffle(
                    df, "k", num_partitions=n, stage_col=stage_col
                ),
                "rid",
            )
            block = nulls if stage_col else dict.fromkeys(nulls, 0)
            assert {(b, got[i]) for i, b in block.items()} == {
                (b, ref[i]) for i, b in block.items()
            }, (stage_col, n)
            assert {i: p for i, p in got.items() if i not in nulls} == {
                i: p for i, p in ref.items() if i not in nulls
            }, (stage_col, n)


def test_global_shuffle_rejects_negative_or_null_stage(spark):
    for bad in (-1, None):
        df = spark.createDataFrame([(1, bad), (2, 0)], "k long, stage int")
        with pytest.raises(Exception, match="NULL or negative stage"):
            S.global_shuffle(df, "k", stage_col="stage").collect()


def test_ordered_row_number_range_path_matches_window_reference(spark):
    """The sampled range layout (string keys with duplicates and NULLs,
    a unique tie-break): positions and in-row neighbors equal one
    global window's row_number/lead/lag at 1, 7 and 64 partitions —
    64 leaves most range partitions empty."""
    from pyspark.sql import Window

    rows = [
        (i, None if i % 11 == 0 else f"s{(i * 37) % 50:02d}",
         None if i % 5 == 0 else f"v{i}")
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k long, s string, v string")
    w = Window.orderBy("s", "k")
    ref = sorted(
        tuple(r)
        for r in df.select(
            "k",
            F.row_number().over(w).alias("pos"),
            F.lead("v").over(w).alias("v_next"),
            F.lag("v").over(w).alias("v_prev"),
        ).collect()
    )
    for n in (1, 7, 64):
        out = S.ordered_row_number(
            df, ["s", "k"], num_partitions=n, neighbor_col="v"
        )
        got = sorted(
            tuple(r)
            for r in out.select("k", "pos", "v_next", "v_prev").collect()
        )
        assert got == ref, n
        plain = S.ordered_row_number(df, ["s", "k"], num_partitions=n)
        assert _positions(plain, "k") == {r[0]: r[1] for r in ref}, n


def test_row_numbering_builds_fire_no_jobs(spark, job_ids):
    """Offsets are computed inside the action: building either
    ordered_row_number layout fires no Spark job, and the weighted
    sample fires one (its validated total weight)."""
    df = spark.createDataFrame(
        [(i, f"s{i % 13}", i % 4, i % 9 + 1) for i in range(300)],
        "k long, s string, stage int, w long",
    )
    _, ranged = job_ids(
        lambda: S.ordered_row_number(
            df, ["s", "k"], num_partitions=7, neighbor_col="s"
        )
    )
    _, staged = job_ids(
        lambda: S.global_shuffle(df, "k", num_partitions=7, stage_col="stage")
    )
    _, weighted = job_ids(
        lambda: S.weighted_systematic_sample(df, "k", "w", k=20)
    )
    assert (len(ranged), len(staged)) == (0, 0)
    assert len(weighted) <= 1


def test_ordered_row_number_rejects_bucket_with_neighbor(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    with pytest.raises(ValueError, match="bucket_col and neighbor_col"):
        S.ordered_row_number(
            df, ["k"], neighbor_col="k", bucket_col=F.col("k") % 2
        )


def test_ordered_row_number_neighbors_with_null_values(spark):
    """NULL neighbor values inside range partitions: the in-row
    ``_next``/``_prev`` columns match a single-window lead/lag over the
    whole order."""
    from pyspark.sql import Window as W

    from ekati_spark.metrics import run_with_metrics

    rows = [(i, None if i % 3 == 0 else f"v{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k long, v string")
    out = S.ordered_row_number(df, ["k"], neighbor_col="v", num_partitions=8)
    w = W.orderBy("k")
    ref = df.select(
        "k",
        F.lead("v").over(w).alias("v_next"),
        F.lag("v").over(w).alias("v_prev"),
    )
    _, qm = run_with_metrics(out)
    got = sorted((r.k, r.pos, r.v_next, r.v_prev) for r in out.collect())
    want = sorted((r.k, r.k + 1, r.v_next, r.v_prev) for r in ref.collect())
    assert got == want
    # the broadcast offsets and boundary fix-up frames hold at most one
    # row per partition, however many neighbor values are NULL
    sizes = [
        r.value for r in qm.collect()
        if r.node == "BroadcastExchange" and r.metric == "numOutputRows"
    ]
    assert sizes and max(sizes) <= 8, sizes


def test_leakage_safe_split_is_group_atomic(spark, sf_dir):
    """Exact-duplicate documents always land in the same split (the
    leakage guarantee l22's per-doc split does not give)."""
    from ekati_spark.queries import REGISTRY

    out = REGISTRY["l40_leakage_safe_split"].fn(spark, sf_dir)
    n_bad = (
        out.groupBy("group_rep")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert n_bad == 0
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_weighted_systematic_sample_exact_k_and_partition_invariant(spark):
    """Total multiplicity is exactly k, the draw is identical across
    partition counts (the two-level prefix sum is physical-layout
    independent), and a row heavier than W/k is picked multiple times."""
    rows = [(i, 10) for i in range(100)] + [(100, 5000)]  # W = 6000
    df = spark.createDataFrame(rows, ["k", "w"])
    out = {
        r.k: r.n_picks
        for r in S.weighted_systematic_sample(
            df, "k", "w", k=12, num_partitions=5
        ).collect()
    }
    assert sum(out.values()) == 12
    # heavy row holds 5000/6000 of the line -> 10 of 12 picks
    assert out[100] == 10
    out7 = {
        r.k: r.n_picks
        for r in S.weighted_systematic_sample(
            df, "k", "w", k=12, num_partitions=7
        ).collect()
    }
    assert out == out7


def test_weighted_systematic_sample_validates(spark):
    df = spark.createDataFrame([(1, 1)], ["k", "w"])
    with pytest.raises(ValueError):
        S.weighted_systematic_sample(df, "k", "w", k=0)
    with pytest.raises(ValueError):
        S.weighted_systematic_sample(
            df.select("k", (F.col("w") - 1).alias("w")), "k", "w", k=3
        )


def test_token_waterfill_is_max_min_fair(spark, sf_dir):
    """Water-fill invariants: no allocation exceeds supply, uncapped
    sources keep everything, capped sources all sit at the same level,
    and the total lands within #sources of the budget (integer floor)."""
    from ekati_spark.queries import REGISTRY

    rows = REGISTRY["l47_token_waterfill"].fn(spark, sf_dir).collect()
    total_supply = sum(r.supply for r in rows)
    budget = total_supply * 6 // 10
    assert all(r.allocation <= r.supply for r in rows)
    assert all(r.allocation == r.supply for r in rows if not r.capped)
    caps = {r.allocation for r in rows if r.capped}
    assert len(caps) <= 1
    got = sum(r.allocation for r in rows)
    assert budget - len(rows) < got <= budget


def test_weighted_sample_total_is_k_across_weight_shapes(spark):
    """The systematic draw's total multiplicity is exactly k for any
    positive weight profile (uniform, skewed, singleton, ramp)."""
    shapes = {
        "uniform": [7] * 40,
        "skew": [1] * 30 + [1000] * 3,
        "one": [5],
        "ramp": list(range(1, 30)),
    }
    for name, weights in shapes.items():
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(weights)], ["k", "w"]
        )
        for k in (1, 5, 17):
            out = S.weighted_systematic_sample(
                df, "k", "w", k=k, num_partitions=4
            ).collect()
            assert sum(r.n_picks for r in out) == k, (name, k)


def test_curriculum_order_stages_then_shuffles(spark, sf_dir):
    """Curriculum invariants: positions are a contiguous permutation,
    every earlier decile fully precedes every later one, and the
    within-decile order is shuffled (not id order)."""
    import ekati_spark.queries as Q

    rows = Q.REGISTRY["l51_curriculum_order"].fn(spark, sf_dir).collect()
    pos = sorted(r.pos for r in rows)
    assert pos == list(range(1, len(rows) + 1))
    by_pos = sorted(rows, key=lambda r: r.pos)
    deciles = [r.decile for r in by_pos]
    assert deciles == sorted(deciles), "stages must not interleave"
    ids_in_first = [r.doc_id for r in by_pos if r.decile == deciles[0]]
    assert ids_in_first != sorted(ids_in_first), "intra-stage shuffle"


def test_temperature_mixing_quota_invariants(spark, sf_dir):
    """l105's tempered quotas: sum exactly to the 300-doc budget, each
    source's picked count equals its quota, and the tempering
    flattens — the largest source's quota share is strictly below its
    raw doc share."""
    from pyspark.sql import functions as F

    from ekati_spark.queries.llm import l105_temperature_mixing

    out = l105_temperature_mixing(spark, sf_dir).collect()
    assert sum(r["quota"] for r in out) == 300
    tot_docs = sum(r["n_docs"] for r in out)
    top = max(out, key=lambda r: r["n_docs"])
    if top["n_docs"] * len(out) > tot_docs:  # strictly over-represented
        assert top["quota"] / 300 < top["n_docs"] / tot_docs


def test_scaling_law_subsets_nest(spark, sf_dir):
    """The ablation manifest's subsets NEST: per source, n_docs and
    n_tokens are nondecreasing in subset_pct, and the 100% subset
    accounts for every document; per subset, token shares sum to ~1e6
    (integer-div truncation only)."""
    from ekati_spark.queries.base import REGISTRY
    import ekati_spark.queries  # noqa: F401 — registers

    rows = REGISTRY["l118_scaling_law_subsets"].fn(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    total_docs = 0
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.subset_pct)
        assert [r.subset_pct for r in rs] == [10, 25, 50, 100], src
        for a, b in zip(rs, rs[1:]):
            assert a.n_docs <= b.n_docs and a.n_tokens <= b.n_tokens
        total_docs += rs[-1].n_docs
    from ekati_spark.catalog import load_table

    assert total_docs == load_table(spark, sf_dir, "documents").count()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r.subset_pct, 0)
        by_sub[r.subset_pct] += r.token_share_ppm
    for sub, s in by_sub.items():
        assert 1_000_000 - len(by_src) <= s <= 1_000_000, (sub, s)
