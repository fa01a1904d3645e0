"""Similarity-search tests: brute-force correctness + LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ekati_spark.catalog import load_table
from ekati_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_cosine_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    a, b = rng.standard_normal(16), rng.standard_normal(16)
    expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = spark.createDataFrame(
        [(a.tolist(), b.tolist())], "a array<double>, b array<double>"
    )
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).first().c
    assert math.isclose(got, expect, rel_tol=1e-12)


def test_brute_force_topk_shape_and_order(emb, spark):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = S.brute_force_topk(emb, q, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4]
        scores = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != r.query_id for r in rows)


def test_lsh_results_subset_of_bruteforce_scores(emb, spark):
    """LSH top-k scores are ≤ brute-force top-k scores per query (it
    searches a subset), and recall@5 is reasonable for 6 planes."""
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = S.brute_force_topk(emb, q, k=5).collect()
    ann = S.ann_lsh_buckets(emb, q, k=5, n_planes=6).collect()
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf}
    ann_pairs = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(bf_pairs & ann_pairs) / len(bf_pairs)
    assert recall >= 0.2, f"suspiciously low LSH recall: {recall}"
    # every ANN hit must carry the exact same cosine as brute force computed
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
    for r in ann:
        if (r.query_id, r.neighbor_id) in bf_scores:
            assert r.cosine == pytest.approx(
                bf_scores[(r.query_id, r.neighbor_id)], abs=1e-9
            )


def test_ivf_tiny_corpus(spark):
    """Corpus smaller than n_lists must clamp, not crash."""
    rows = [(i, [float(i + 1), float(-i - 2)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = S.ivf_topk_int(emb, q, k=3, n_lists=16, n_probe=8, kmeans_iters=1)
    assert out.count() > 0


def test_ann_lsh_tolerates_null_and_ragged(spark):
    from pyspark.sql import functions as F
    from ekati_spark.operators.similarity import ann_lsh_buckets

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, None), (4, [1.0, 0.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ann_lsh_buckets(df, q, k=2, n_planes=2)
    assert {r.neighbor_id for r in out.collect()} <= {2}


def test_ivf_empty_corpus_returns_empty(spark):
    """An empty or all-NULL corpus seeds no centroid: the integer IVF,
    SemDeDup and PQ paths return no rows under their contract columns."""
    schema = "vec_id long, embedding array<float>"
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    for corpus in (
        spark.createDataFrame([], schema),
        spark.createDataFrame([(1, None), (2, None)], schema),
    ):
        for out, cols in (
            (
                S.ivf_topk_int(corpus, q, k=3),
                ["query_id", "rank", "neighbor_id", "dist_sq"],
            ),
            (S.semantic_dedup_int(corpus), ["vec_id", "list_id", "kept"]),
            (
                S.pq_topk_int(corpus, q, k=3),
                ["query_id", "rank", "neighbor_id", "dist_sq", "adc_dist"],
            ),
        ):
            assert out.columns == cols
            assert out.count() == 0


def test_hard_negatives_exclude_same_label_and_self(spark, sf_dir):
    from ekati_spark.operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("query_vec"),
    )
    out = hard_negative_topk(emb, q, k=3)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert r.neighbor_id != r.query_id
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert 1 <= r.rank <= 3


def test_bitext_margin_mines_planted_pair(spark):
    """A planted near-identical cross-side pair wins its source's argmax
    with a margin above threshold; an isotropic decoy does not pair with
    everything (margin normalization suppresses hub matches)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=(6, dim))
    src = [(int(i), [float(x) for x in base[i]]) for i in range(3)]
    # tgt 10 is a slightly-perturbed copy of src 0 (the true translation);
    # tgt 11/12 are unrelated
    tgt = [
        (10, [float(x) for x in base[0] + 0.01 * rng.normal(size=dim)]),
        (11, [float(x) for x in base[4]]),
        (12, [float(x) for x in base[5]]),
    ]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "vec_id long, embedding array<double>"
    )
    out = S.bitext_margin_pairs(
        mk(src), mk(tgt), k=2, margin_threshold=1.05
    ).collect()
    mined = {r.src_id: (r.tgt_id, r.margin) for r in out}
    assert 0 in mined and mined[0][0] == 10
    assert mined[0][1] >= 1.05
    # every emitted pair clears the threshold and is unique per source
    assert len(out) == len(mined)
    assert all(r.margin >= 1.05 for r in out)


def test_dup_pairs_ann_subset_of_exact_with_identical_cosines(spark, sf_dir):
    """The LSH near-dup twin must emit a SUBSET of the exact block-grid
    pairs at the same threshold, with bit-identical cosines on every
    emitted pair (same left-fold, same rounding), and non-trivial
    recall. Also plan-asserts the l05 failure mode stays fixed: the
    scoring expression must NOT appear in any join condition (Catalyst
    pushing the threshold filter into the BHJ evaluates the 64-term dot
    interpreted — measured 6x slower)."""
    from ekati_spark.catalog import load_table
    from ekati_spark.operators.dedup import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs(emb, threshold=0.3).collect()
    }
    out = S.embedding_dup_pairs_ann(
        emb, threshold=0.3, n_planes=8, n_tables=8
    )
    ann = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    assert ann, "ANN twin found no pairs at threshold 0.3"
    for pair, c in ann.items():
        assert pair in exact and exact[pair] == c, (pair, c)
    # recall on LOW-similarity pairs follows the amplifier: cos 0.3 ⇒
    # per-plane agreement ~0.6 ⇒ 1-(1-0.6^8)^8 ≈ 12% — assert the
    # theory floor, not a dedup-grade recall (these are not near-dups)
    assert len(ann) >= 0.05 * len(exact), (len(ann), len(exact))
    # the actual dedup case: a planted near-identical pair (cos≈1 ⇒
    # same sign pattern in every table ⇒ always a candidate) is found
    planted = emb.limit(1).selectExpr(
        "9000001 as vec_id",
        "transform(embedding, x -> float(x * 1.0001)) as embedding",
        "label",
    )
    src_id = planted.collect()[0]  # noqa: F841 — force deterministic row
    with_dup = emb.unionByName(planted)
    found = {
        (r.id_a, r.id_b)
        for r in S.embedding_dup_pairs_ann(
            with_dup, threshold=0.9, n_planes=8, n_tables=8
        ).collect()
    }
    base_id = emb.limit(1).collect()[0].vec_id
    assert (base_id, 9000001) in found
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and not any("round(" in ln for ln in join_lines), (
        "scoring leaked into a join condition"
    )


def test_bitext_margin_ann_mines_planted_pair(spark):
    """The LSH bitext twin mines a planted near-identical cross-side
    pair: a ~copy shares every bucket with its source (cos≈1 ⇒ same
    sign pattern in every table), so it is always a candidate, and the
    margin formula over candidates still ranks it first."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=(8, dim))
    src = [(int(i), [float(x) for x in base[i]]) for i in range(4)]
    tgt = [
        (10, [float(x) for x in base[0] + 0.001 * rng.normal(size=dim)]),
        (11, [float(x) for x in base[5]]),
        (12, [float(x) for x in base[6]]),
        (13, [float(x) for x in base[7]]),
    ]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "vec_id long, embedding array<double>"
    )
    out = S.bitext_margin_ann(
        mk(src), mk(tgt), k=2, margin_threshold=1.05,
        n_planes=4, n_tables=8, dim=dim,
    ).collect()
    mined = {r.src_id: (r.tgt_id, r.margin) for r in out}
    assert 0 in mined and mined[0][0] == 10
    assert mined[0][1] >= 1.05


def _margin_reference(pairs, k, threshold):
    """``margin_from_scored_pairs`` in plain Python: exact decimal top-k
    sums (ties at rank k break on the other side's id), one double
    division, Spark's HALF_UP round to 6 places, argmax by (margin desc,
    tgt_id)."""
    from decimal import ROUND_HALF_UP, Decimal

    def topk_sums(key, order):
        groups = {}
        for p in pairs:
            groups.setdefault(p[key], []).append(p)
        return {
            g: sum((Decimal(repr(p[2])) for p in sorted(ps, key=order)[:k]),
                   Decimal(0))
            for g, ps in groups.items()
        }

    sum_s = topk_sums(0, lambda p: (-p[2], p[1]))
    sum_t = topk_sums(1, lambda p: (-p[2], p[0]))
    best = {}
    for s, t, c in pairs:
        m = c / (float(sum_s[s] + sum_t[t]) / (2 * k))
        m = float(Decimal(repr(m)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        best[s] = min(best.get(s, (math.inf, 0, 0.0)), (-m, t, c))
    return {(s, t, c, -nm) for s, (nm, t, c) in best.items() if -nm >= threshold}


def test_margin_from_scored_pairs_matches_reference(spark):
    """Hand-built candidate pairs with equal cosines straddling rank k on
    both sides and one hub target every source scores high: the window
    chain equals the Python reference exactly, at 3 and 17 shuffle
    partitions."""
    import random

    rng = random.Random(11)
    levels = [0.91, 0.73, 0.73, 0.5, 0.5, 0.5, 0.212345, -0.1]
    pairs = [(s, 100, 0.88) for s in range(12)]  # the hub target
    pairs += [
        (s, t, rng.choice(levels))
        for s in range(12) for t in range(101, 109) if rng.random() < 0.6
    ]
    pairs += [(12, 201, 0.95), (12, 200, 0.95)]  # equal margins: tgt 200 wins
    df = spark.createDataFrame(pairs, "src_id long, tgt_id long, cosine double")
    want = _margin_reference(pairs, 2, 0.95)
    assert (12, 200, 0.95, 1.333333) in want
    assert any(t == 100 for _, t, _, _ in want)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for n in ("3", "17"):
            spark.conf.set(key, n)
            got = S.margin_from_scored_pairs(df, k=2, margin_threshold=0.95)
            assert {tuple(r) for r in got.collect()} == want, n
    finally:
        spark.conf.set(key, before)


def test_bitext_margin_ann_builds_without_jobs(spark, sf_dir, job_ids):
    """Only the embedding-dimension inference runs at build time; with
    ``dim`` given the whole kernel is one lazy plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    src, tgt = emb.filter(F.col("label") == 0), emb.filter(F.col("label") == 1)
    _, jobs = job_ids(lambda: S.bitext_margin_ann(src, tgt, k=4, n_planes=6))
    assert len(jobs) <= 1, jobs
    dim = len(emb.first().embedding)
    _, jobs = job_ids(
        lambda: S.bitext_margin_ann(src, tgt, k=4, n_planes=6, dim=dim)
    )
    assert jobs == [], jobs


def test_ivf_int_recall_vs_exact_l2(spark, sf_dir):
    """Integer-deterministic IVF (the l15 oracle-backed path) must keep
    useful recall against EXACT L2 top-k (its metric — FAISS-default
    IVF is L2) and return true distances on the quantized grid."""
    import numpy as np

    from ekati_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    Q = {i: V[i] for i in V if i < 8}
    exact = set()
    for qid, qv in Q.items():
        d = sorted(
            ((float(((qv - v) ** 2).sum()), nid) for nid, v in V.items() if nid != qid),
        )[:5]
        exact |= {(qid, nid) for _, nid in d}
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = S.ivf_topk_int(emb, q, k=5, n_lists=8, n_probe=4).collect()
    ann = {(r.query_id, r.neighbor_id) for r in got}
    assert len(ann & exact) / len(exact) >= 0.5
    # quantized distances are exact int64 on the grid: spot-check one
    r0 = got[0]
    qv = np.floor(V[r0.query_id] * 1024 + 0.5).astype(np.int64)
    nv = np.floor(V[r0.neighbor_id] * 1024 + 0.5).astype(np.int64)
    assert r0.dist_sq == int(((qv - nv) ** 2).sum())


def test_semantic_dedup_int_drops_planted_near_dupes(spark):
    """Integer SemDeDup (the l37 oracle-backed path): planted
    exact/near duplicates drop, originals survive, threshold is the
    exact rational 0.99^2 = 9801/10000."""
    import random

    from ekati_spark.operators.similarity import semantic_dedup_int

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((100, [float(x) for x in base[0]]))
    rows.append((101, [float(x * 1.001) for x in base[1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.kept for r in semantic_dedup_int(
        df, threshold_sq=(9801, 10000), n_lists=4, kmeans_iters=2
    ).collect()}
    assert len(out) == 42
    assert out[0] and out[1]
    assert not out[100]
    assert not out[101]


def test_pq_int_rerank_recall(spark, sf_dir):
    """Integer PQ (the l54 oracle-backed path): the exact-rerank stage
    must lift candidate recall well above raw ADC on these
    near-random embeddings (the PQ worst case), and reranked distances
    are grid-exact L2²."""
    import numpy as np

    from ekati_spark.catalog import load_table
    from ekati_spark.operators.similarity import pq_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    exact = set()
    for qid in (i for i in V if i < 8):
        d = sorted(
            (float(((V[qid] - v) ** 2).sum()), nid)
            for nid, v in V.items()
            if nid != qid
        )[:5]
        exact |= {(qid, nid) for _, nid in d}
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = pq_topk_int(emb, q, k=5, rerank=100).collect()
    ann = {(r.query_id, r.neighbor_id) for r in got}
    assert len(ann & exact) / len(exact) >= 0.5
    r0 = got[0]
    qv = np.floor(V[r0.query_id] * 1024 + 0.5).astype(np.int64)
    nv = np.floor(V[r0.neighbor_id] * 1024 + 0.5).astype(np.int64)
    assert r0.dist_sq == int(((qv - nv) ** 2).sum())


def test_ivf_int_index_append_equals_inline(spark, tmp_path):
    """On-disk incremental maintenance: build the integer index on the
    base corpus, append the rest, probe — results must equal the
    in-memory append formulation (which l70's oracle replays), and the
    append stats must account for every appended vector."""
    from ekati_spark.catalog import load_table
    from ekati_spark.operators.similarity import (
        append_ivf_index_int,
        build_ivf_index_int,
        ivf_append_topk_int,
        ivf_topk_int_from_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    fresh = emb.filter(F.col("vec_id") % 5 == 4)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in ivf_append_topk_int(
            base, fresh, q, k=3, n_lists=8, n_probe=3, kmeans_iters=2
        ).collect()
    }

    idx = str(tmp_path / "ivf_int")
    n = build_ivf_index_int(base, idx, n_lists=8, kmeans_iters=2)
    assert n == 8
    stats = append_ivf_index_int(fresh, idx).collect()
    assert sum(r.n_appended for r in stats) == fresh.count()

    out = ivf_topk_int_from_index(spark, idx, q, k=3, n_probe=3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in out.collect()
    }
    assert got == inline
    # the int path must prune like its float twin: probed lists bound
    # driver-side -> literal isin -> PartitionFilters in the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan or "list_id#" in plan.split(
        "PartitionFilters: ["
    )[1][:40], plan[plan.find("PartitionFilters"):][:200]


def test_ivf_int_index_drift_telemetry(spark, tmp_path):
    """Drift telemetry: freshly built index has per-list drift 0 (the
    stored centroid IS the member mean of the final assignment only
    when Lloyd converged — so instead assert the exact re-fit
    semantics: drift equals the L2^2 between stored centroid and
    current member mean, which appending distribution-shifting vectors
    must increase for their target list)."""
    from ekati_spark.operators.similarity import (
        append_ivf_index_int,
        build_ivf_index_int,
        ivf_index_drift_int,
    )

    rows = [
        (i, [float(i % 4), float((i * 3) % 4)] + [0.0] * 2)
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "drift")
    build_ivf_index_int(corpus, idx, n_lists=4, kmeans_iters=3)
    before = {
        r.list_id: r.drift_sq
        for r in ivf_index_drift_int(spark, idx).collect()
    }
    # append a far-away cluster: whichever list absorbs it must drift
    far = spark.createDataFrame(
        [(100 + i, [50.0, 50.0, 0.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    stats = append_ivf_index_int(far, idx).collect()
    assert sum(r.n_appended for r in stats) == 10
    target = stats[0].list_id
    after = {
        r.list_id: r.drift_sq
        for r in ivf_index_drift_int(spark, idx).collect()
    }
    assert after[target] > before[target]


def test_ivf_int_index_over_empty_corpus(spark, tmp_path):
    """An index built over an empty corpus has no centroids: an append
    raises a ValueError naming the index and the rebuild, and drift
    telemetry is empty without reading the lists."""
    import shutil

    from ekati_spark.operators.similarity import (
        append_ivf_index_int,
        build_ivf_index_int,
        ivf_index_drift_int,
    )

    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "empty_ivf")
    assert build_ivf_index_int(spark.createDataFrame([], schema), idx) == 0
    fresh = spark.createDataFrame([(1, [0.5, 0.25])], schema)
    with pytest.raises(ValueError, match="rebuild") as err:
        append_ivf_index_int(fresh, idx)
    assert idx in str(err.value)
    shutil.rmtree(f"{idx}/lists", ignore_errors=True)  # must not be read
    drift = ivf_index_drift_int(spark, idx)
    assert drift.schema.simpleString() == (
        "struct<list_id:bigint,n_members:bigint,drift_sq:bigint>"
    )
    assert drift.collect() == []


def test_ivf_int_compaction_preserves_probe_results(spark, tmp_path):
    """After several appends, compaction must cut the per-list file
    count and leave probe results bit-identical."""
    from ekati_spark.catalog import load_table
    from ekati_spark.operators.similarity import (
        append_ivf_index_int,
        build_ivf_index_int,
        compact_ivf_lists,
        ivf_topk_int_from_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    idx = str(tmp_path / "ivf_compact")
    build_ivf_index_int(base, idx, n_lists=4, kmeans_iters=1)
    for m in (1, 2, 3):
        append_ivf_index_int(emb.filter(F.col("vec_id") % 4 == m), idx)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    before = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in ivf_topk_int_from_index(spark, idx, q, k=3, n_probe=2).collect()
    }
    stats = compact_ivf_lists(spark, idx)
    assert stats["files_after"] < stats["files_before"]
    after = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in ivf_topk_int_from_index(spark, idx, q, k=3, n_probe=2).collect()
    }
    assert after == before

    # a stale lists.old from a crashed prior compaction must not wedge
    # the next run — it's cleared before staging
    import pathlib

    pathlib.Path(idx, "lists.old").mkdir()
    stats2 = compact_ivf_lists(spark, idx)
    assert stats2["files_after"] <= stats2["files_before"]
    again = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_sq)
        for r in ivf_topk_int_from_index(spark, idx, q, k=3, n_probe=2).collect()
    }
    assert again == before


def test_pca_top_component_matches_float_eigenvector(spark):
    """On anisotropic data (a planted dominant direction) the integer
    power-iteration component must align with the true float covariance
    eigenvector (|cos| > 0.99 after 3 iterations) — integer determinism
    buys exactness, not a different answer. NB: the driver's synthetic
    embeddings are near-isotropic (eigengap ~1 — the documented
    worst case for PQ recall too), where NO power method converges in
    3 steps; the planted-direction corpus is the honest test bed."""
    import numpy as np

    from ekati_spark.operators.similarity import pca_top_component

    rng = np.random.default_rng(7)
    d = rng.normal(size=16)
    d /= np.linalg.norm(d)
    X = rng.normal(scale=0.05, size=(300, 16)) + np.outer(
        rng.normal(scale=1.0, size=300), d
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    v = np.array(pca_top_component(df, iters=3), dtype=np.float64)
    C = np.cov(
        np.array(
            [r["embedding"] for r in df.select("embedding").collect()],
            dtype=np.float64,
        ),
        rowvar=False,
        bias=True,
    )
    w, U = np.linalg.eigh(C)
    top = U[:, np.argmax(w)]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos


def test_debias_removes_planted_component(spark):
    """All-but-the-top on a planted-anisotropy corpus: the debiased
    vectors must be (near-)orthogonal to the removed component —
    |resid_dot| bounded by the trunc-error budget (dim/2 ulps of v per
    coordinate) — and the removed energy must dominate for vectors
    riding the planted direction."""
    import numpy as np

    from ekati_spark.operators.similarity import (
        debias_top_component,
        pca_top_component,
    )

    rng = np.random.default_rng(11)
    d = rng.normal(size=16)
    d /= np.linalg.norm(d)
    X = rng.normal(scale=0.05, size=(300, 16)) + np.outer(
        rng.normal(scale=1.0, size=300), d
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    v = pca_top_component(df, iters=3)
    vmax = max(abs(x) for x in v)
    rows = {r["vec_id"]: r for r in debias_top_component(df, v).collect()}
    assert len(rows) == 300
    # trunc error: each coordinate off by < 1 grid unit, dot with v off
    # by < dim * max|v|
    budget = 16 * vmax
    removed = 0
    for r in rows.values():
        assert abs(r["resid_dot"]) < budget, r
        assert r["resid_norm2"] <= r["norm2_q"] + 16  # energy removed
        removed += r["norm2_q"] - r["resid_norm2"]
    # the planted direction carries most of the corpus energy
    total = sum(r["norm2_q"] for r in rows.values())
    assert removed > 0.5 * total


def test_dup_pairs_ann_fetch_paths_bit_identical(spark, sf_dir):
    """The broadcast-gather scorer and the per-pair join scorer must
    return the SAME pair set with bit-identical cosines over one
    candidate set: both run the per-dim sequential left-fold, the same
    norm product, and one divide, so any difference is a float-op-order
    bug. Zero-norm vectors must drop from both (try_divide NULL vs the
    anti-join)."""
    from ekati_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # plant a zero vector: candidate via identical buckets impossible
    # (all-zero signs match everything in its table) — it must never
    # surface a pair from either path
    zero = emb.limit(1).selectExpr(
        "9000002 as vec_id",
        "transform(embedding, x -> float(0.0)) as embedding",
        "label",
    )
    both = emb.unionByName(zero)
    dim = S._infer_dim(both, "embedding")
    cand, v = S.lsh_candidate_ids(both, dim=dim)

    def pairs(scored):
        out = scored.withColumn("cosine", F.round("cos_raw", 6)).filter(
            F.col("cosine") >= F.lit(0.3)
        )
        rows = out.select("id_a", "id_b", "cosine").collect()
        return sorted(map(tuple, rows))

    a = pairs(S._score_pairs_join(cand, v))
    b = pairs(S._score_pairs_broadcast(cand, v, dim))
    assert a, "no pairs at threshold 0.3 — parity check is vacuous"
    assert a == b
    assert not any(9000002 in (p[0], p[1]) for p in a)


def test_kcenter_coreset_planted_geometry(spark):
    """Greedy k-center on a planted 2-cluster + outlier layout: the
    seed is the smallest id, pick 2 is the farthest point, pick 3 the
    farthest from BOTH, ties break to the smaller id; coverage counts
    and radius are exact int64 L2^2 on the 1024 grid."""
    import ekati_spark.operators.similarity as S

    # 1024-grid ints chosen so quantization is exact (x/1024.0 floats)
    pts = {
        0: [0, 0],       # seed (min id), cluster A
        1: [10, 0],      # cluster A
        2: [1000, 0],    # cluster B — farthest from seed -> pick 2
        3: [990, 0],     # cluster B
        4: [500, 400],   # middle outlier -> pick 3 (min dist 330^2+400^2?)
    }
    rows = [(i, [v / 1024.0 for v in p]) for i, p in pts.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["sel_order"]: r
        for r in S.kcenter_coreset(df, k=3).collect()
    }
    assert [out[i]["vec_id"] for i in range(3)] == [0, 2, 4]
    # coverage: 0,1 -> center 0; 2,3 -> center 2; 4 -> center 4
    assert out[0]["n_assigned"] == 2 and out[1]["n_assigned"] == 2
    assert out[2]["n_assigned"] == 1 and out[2]["radius_sq"] == 0
    assert out[0]["radius_sq"] == 100  # point 1 at L2^2 = 10^2
    assert out[1]["radius_sq"] == 100  # point 3 at L2^2 = 10^2


def test_kcenter_coreset_tie_breaks_to_smaller_id(spark):
    import ekati_spark.operators.similarity as S

    rows = [
        (7, [0.0, 0.0]),
        (8, [100 / 1024.0, 0.0]),   # same distance from seed as id 9
        (9, [0.0, 100 / 1024.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        (r["sel_order"], r["vec_id"])
        for r in S.kcenter_coreset(df, k=2).collect()
    )
    assert out == [(0, 7), (1, 8)]  # 8 beats 9 on the id tie-break


def test_kcenter_composable_matches_python_reference(spark):
    """The bucket-local greedy + driver merge must equal a pure-Python
    replay of the same construction (exact ints), and the merged
    centers must be drawn from the per-bucket candidate union."""
    import numpy as np

    import ekati_spark.operators.similarity as S

    rng = np.random.RandomState(7)
    pts = rng.randint(-2000, 2000, size=(40, 4))
    rows = [
        (int(i), [float(v) / 1024.0 for v in p]) for i, p in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["sel_order"]: (r["vec_id"], r["n_assigned"], r["radius_sq"])
        for r in S.kcenter_composable(
            df, k=5, n_buckets=3, k_local=3
        ).collect()
    }

    def greedy(ids, Q, kk):
        order = np.argsort(ids)
        ids, Q = ids[order], Q[order]
        sel = [0]
        md = ((Q - Q[0]) ** 2).sum(axis=1)
        for _ in range(min(kk, len(ids)) - 1):
            j = int(md.argmax())
            sel.append(j)
            md = np.minimum(md, ((Q - Q[j]) ** 2).sum(axis=1))
        return [(int(ids[j]), Q[j]) for j in sel]

    ids = np.arange(40, dtype=np.int64)
    cand = []
    for b in range(3):
        m = ids % 3 == b
        cand += greedy(ids[m], pts[m].astype(np.int64), 3)
    cids = np.array([c[0] for c in cand], dtype=np.int64)
    cq = np.array([c[1] for c in cand], dtype=np.int64)
    centers = greedy(cids, cq, 5)
    assert [got[i][0] for i in range(5)] == [c[0] for c in centers]
    assert set(got[i][0] for i in range(5)) <= set(int(x) for x in cids)
    # coverage adds up to the corpus and radii are exact mins
    C = np.array([c[1] for c in centers], dtype=np.int64)
    d = ((pts.astype(np.int64)[:, None, :] - C[None, :, :]) ** 2).sum(
        axis=2
    )
    so = d.argmin(axis=1)
    md = d.min(axis=1)
    for i in range(5):
        assert got[i][1] == int((so == i).sum())
        assert got[i][2] == int(md[so == i].max())


def test_maxsim_finds_hot_chunk_match_that_pooling_misses(spark):
    """Late interaction's reason to exist: a doc with ONE chunk
    identical to a query chunk (others orthogonal) must outrank a doc
    whose chunks are all mildly similar, even though mean-pooled
    vectors would prefer the latter."""
    from pyspark.sql import functions as F

    import ekati_spark.operators.similarity as S

    q = [(0, 0, [1.0, 0.0, 0.0, 0.0]), (0, 1, [0.0, 1.0, 0.0, 0.0])]
    corpus = [
        # doc 10: one chunk == query chunk 0 exactly, one orthogonal
        (10, 0, [1.0, 0.0, 0.0, 0.0]),
        (10, 1, [0.0, 0.0, 0.0, 1.0]),
        # doc 11: both chunks mildly similar to both query chunks
        # (cos ≈ 0.448 each -> MaxSim ≈ 0.896 < doc 10's 1.0, while
        # its pooled cosine ≈ 0.633 beats doc 10's pooled 0.5)
        (11, 0, [0.45, 0.45, 0.55, 0.55]),
        (11, 1, [0.45, 0.45, 0.55, 0.55]),
    ]
    schema = "doc long, chunk long, v array<double>"
    out = S.maxsim_topk(
        spark.createDataFrame(corpus, schema),
        spark.createDataFrame(q, schema),
        k=2,
    ).collect()
    ranked = {r["rank"]: (r["doc"], r["maxsim"]) for r in out}
    assert ranked[1][0] == 10  # the exact-chunk doc wins under MaxSim
    # mean-pooled cosine prefers doc 11 — assert the premise holds
    import numpy as np

    qp = np.mean([x[2] for x in q], axis=0)
    p10 = np.mean([corpus[0][2], corpus[1][2]], axis=0)
    p11 = np.mean([corpus[2][2], corpus[3][2]], axis=0)
    cos = lambda a, b: a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    assert cos(qp, p11) > cos(qp, p10)


def test_ivf_delete_parity_never_returns_deleted(spark):
    """l93's contract at unit level: the GC'd index cannot return a
    deleted vector, and every query still gets k survivors."""
    from ekati_spark.queries import REGISTRY

    out = REGISTRY["l93_ivf_delete_parity"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r["neighbor_id"] % 7 != 3 for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_nndescent_round_improves_weak_init(emb, spark):
    """One NN-Descent refinement round improves the weak 4-table LSH
    init on the synthetic (near-random — locality's worst case)
    embeddings: summed top-5 cosine mass strictly grows and recall@5
    vs exact brute force never drops."""
    init = S.knn_graph_nndescent(emb, k=5, n_tables=4, rounds=0)
    ref = S.knn_graph_nndescent(emb, k=5, n_tables=4, rounds=1)

    def mass(df):
        return df.agg(F.sum("cosine")).first()[0]

    m0, m1 = mass(init), mass(ref)
    assert m1 > m0, (m0, m1)

    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(df):
        got = {
            (r.query_id, r.neighbor_id)
            for r in df.filter(F.col("query_id") < 25).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1 = recall(init), recall(ref)
    assert r1 >= r0, (r0, r1)


def test_nndescent_planted_clusters_near_perfect_recall(spark):
    """On data with REAL neighborhood structure (16 well-separated
    clusters of 12), one NN-Descent round lifts the weak init to
    >= 0.9 recall@5: within a cluster the neighbor-of-neighbor closure
    completes the local graph even when LSH tables split the cluster
    across buckets."""
    dim, n_clusters, per = 64, 16, 12
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[c * 4] = 10.0
            v[c * 4 + 1] = 10.0
            for d in range(dim):
                v[d] += ((c * per + j) * 31 + d * 7) % 11 / 10.0
            rows.append((c * per + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    r0 = recall(S.knn_graph_nndescent(emb, k=5, n_tables=2, rounds=0))
    r1 = recall(S.knn_graph_nndescent(emb, k=5, n_tables=2, rounds=1))
    assert r1 >= r0, (r0, r1)
    assert r1 >= 0.9, (r0, r1)


def test_auto_n_planes_occupancy_contract():
    """auto_n_planes returns the smallest np in [lo, hi] with expected
    bucket occupancy n/2^np <= target — the l119 init's linear-volume
    contract, and the exact integer formula the oracle's CASE chain
    replays (so the two can never drift)."""
    # the driver's corpora: sf0.01 -> 500 (clamped at lo), sf0.1 ->
    # 2000 (first unclamped step), generated sf1 -> 20000
    assert S.auto_n_planes(500) == 6
    assert S.auto_n_planes(2000) == 7
    assert S.auto_n_planes(20000) == 11
    for n in (1, 100, 1024, 1025, 10**6, 10**9, 10**12):
        np_ = S.auto_n_planes(n)
        assert 6 <= np_ <= 16
        # minimality + the bound itself (hi clamp excepted)
        if np_ < 16:
            assert n <= 16 * (1 << np_)
        if np_ > 6:
            assert n > 16 * (1 << (np_ - 1))
    # billion-scale corpora hit the hi clamp, never exceed it
    assert S.auto_n_planes(10**9) == 16


def test_ivf_self_topk_split_cap_invariant(spark):
    """The member-side skew split (lists larger than split_cap score
    in hash sub-groups, every probe replicated to every sub) is
    RESULT-INVARIANT: a tiny cap that forces multi-sub scoring on
    every list returns exactly the unsplit kernel's rows — per-sub
    top-k unions lose nothing and ties still break by neighbor_id.
    The duplicate-skew case is the point: replica groups land in ONE
    k-means list, so the corpus here carries 8 copies of each of 10
    points (one list absorbs each pile)."""
    rows = []
    for base in range(10):
        for r in range(8):
            vid = base * 100 + r
            vec = [float((base * 7 + j) % 5) for j in range(8)]
            rows.append((vid, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def got(**kw):
        return sorted(
            map(
                tuple,
                S.ivf_self_topk_int(
                    emb, k=3, n_lists=4, n_probe=2, **kw
                ).collect(),
            )
        )

    unsplit = got()  # default cap never binds at 80 vectors
    assert got(split_cap=3) == unsplit
    assert got(split_cap=1) == unsplit
    assert len(unsplit) == 80 * 3


def test_auto_n_lists_sqrt_contract():
    """auto_n_lists returns the smallest power-of-two p in [16, 4096]
    with p² ≥ n (⌈√n⌉ to a power of two) — the IVF balance holding
    Lloyd assignment (n·p) and self-probe volume (n²·n_probe/p) both
    at Θ(n^1.5); the l108b oracle replays the identical CASE chain, so
    the two can never drift."""
    # the driver's corpora: sf0.01 -> 500 vectors, sf0.1 -> 2000,
    # generated sf1 -> 20000, sf10 -> 200000
    assert S.auto_n_lists(500) == 32
    assert S.auto_n_lists(2000) == 64
    assert S.auto_n_lists(20000) == 256
    assert S.auto_n_lists(200000) == 512
    # boundaries: p*p >= n minimality, lo/hi clamps
    assert S.auto_n_lists(1) == 16
    assert S.auto_n_lists(256) == 16
    assert S.auto_n_lists(257) == 32
    assert S.auto_n_lists(1024) == 32
    assert S.auto_n_lists(1025) == 64
    for n in (1, 100, 4096, 4097, 10**6, 10**9):
        p = S.auto_n_lists(n)
        assert 16 <= p <= 4096 and (p & (p - 1)) == 0
        if p < 4096:
            assert p * p >= n
        if p > 16:
            assert (p // 2) * (p // 2) < n
    assert S.auto_n_lists(10**9) == 4096  # hi clamp


def test_l133_graph_serve_recall_and_store(spark):
    """Graph-ANN serving (l133): overlap@5 with the exact top-5 is far
    above the ~1% random-candidate chance floor on the near-random
    synthetic embeddings (measured 0.56 at sf0.01, 0.21 at sf0.001 for
    the k=8/rounds=2 store graph — floor pinned with margin), rank is
    dense 1..5 per query, and the per-(session, sf_dir) store is built
    once (a second call returns the same entry and counts a hit)."""
    from ekati_spark import session_store
    from ekati_spark.queries import REGISTRY, llm as L

    sf = "/root/testdata/sf0.001"
    try:
        rows = REGISTRY["l133_knn_graph_serve"].fn(spark, sf).collect()
        assert rows
        byq = {}
        for r in rows:
            byq.setdefault(r.query_id, []).append(r)
        for q, rs in byq.items():
            assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
            assert all(x.neighbor_id != q for x in rs)
        overlap = sum(r.in_exact_top5 for r in rows) / len(rows)
        assert overlap >= 0.10  # chance is ~5/500
        g1 = L._knn_graph(spark, sf, "l133_graph", k=8, rounds=2)
        hits = session_store.stats()["l133_graph"]["hits"]
        assert L._knn_graph(spark, sf, "l133_graph", k=8, rounds=2) is g1
        assert session_store.stats()["l133_graph"]["hits"] == hits + 1
    finally:
        for slot in ("l133_graph", "knn_corpus"):
            session_store.evict(spark, slot)


def test_knn_graph_store_new_sf_dir_unpersists_old(spark, sf_dir):
    """A graph store slot holds one entry per session: building it for
    a new sf_dir unpersists the old entry's edges and adjacency."""
    from pathlib import Path

    from pyspark import StorageLevel

    from ekati_spark import session_store
    from ekati_spark.queries import llm as L

    def graph(sf):
        return L._knn_graph(spark, sf, "l136_l1", where=L._L136_UPPER)

    try:
        old = graph(sf_dir)
        assert old.edges.storageLevel != StorageLevel.NONE
        assert old.adj.storageLevel != StorageLevel.NONE
        new = graph(str(Path(sf_dir).with_name("sf0.01")))
        assert old.edges.storageLevel == StorageLevel.NONE
        assert old.adj.storageLevel == StorageLevel.NONE
        assert new.adj.storageLevel != StorageLevel.NONE
    finally:
        session_store.evict(spark, "l136_l1")
    assert new.edges.storageLevel == StorageLevel.NONE


def _serve_reference(seeds, edges, vecs, queries, k):
    """Pure-Python graph_serve_topk: seeds ∪ N ∪ N(N) minus the query,
    top-k by 6-decimal cosine (NULL last, ties on id), audit flags."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)

    def cos(x, y):
        dot = sum(p * r for p, r in zip(vecs[x], vecs[y]))
        den = math.sqrt(sum(p * p for p in vecs[x])) * math.sqrt(
            sum(r * r for r in vecs[y])
        )
        return round(dot / den, 6) if den else None

    def top(qid, ids):
        scored = [(cos(qid, i), i) for i in ids]
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        return scored[:k]

    out = set()
    for qid in queries:
        h1 = {n for s, n in seeds if s == qid}
        h1 |= {m for n in h1 for m in nbrs.get(n, ())}
        cand = h1 | {m for n in h1 for m in nbrs.get(n, ())}
        cand.discard(qid)
        exact = {i for _, i in top(qid, [i for i in vecs if i != qid])}
        for rank, (c, i) in enumerate(top(qid, cand), 1):
            out.add((qid, i, c, rank, int(i in exact)))
    return out


def test_graph_serve_topk_matches_reference(spark):
    """The serve kernel l133 and l136 share, on a planted adjacency:
    a duplicated seed, a seed with no edges, tied cosines (identical
    vectors 3 and 4, equal angles 1 and 6) and a zero-norm vector 9,
    whose cosine is NULL and ranks last."""
    dim, k = 4, 6
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0], 1: [1.0, 1.0, 0.0, 0.0],
        2: [1.0, 2.0, 0.0, 0.0], 3: [0.0, 1.0, 1.0, 0.0],
        4: [0.0, 1.0, 1.0, 0.0], 5: [0.0, 0.0, 1.0, 1.0],
        6: [1.0, 0.0, 1.0, 0.0], 7: [0.0, 0.0, 0.0, 1.0],
        8: [2.0, 1.0, 0.0, 1.0], 9: [0.0, 0.0, 0.0, 0.0],
    }
    edges = [(0, 1), (1, 2), (1, 3), (2, 4), (0, 6), (5, 9), (3, 5), (2, 8)]
    seeds = [(0, 0), (0, 0), (5, 7), (5, 3)]
    c = spark.createDataFrame(
        list(vecs.items()), "id long, v array<double>"
    ).withColumn("nv", S.norm("v", dim))
    q = c.filter(F.col("id").isin(0, 5)).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    adj = S.undirected(
        spark.createDataFrame(edges, "a long, b long"), "a", "b"
    )
    got = S.graph_serve_topk(
        spark.createDataFrame(seeds, "query_id long, node long"),
        adj, c, q, k=k, dim=dim,
    )
    assert got.columns == [
        "query_id", "neighbor_id", "cosine", "rank", f"in_exact_top{k}"
    ]
    rows = {tuple(r) for r in got.collect()}
    assert rows == _serve_reference(seeds, edges, vecs, [0, 5], k)
    # the zero-norm neighbor is served, with a NULL cosine, last
    assert (5, 9, None, 6, 0) in rows


def test_knn_graph_delete_consolidate_planted(spark):
    """Delete-consolidation (l134's operator) on the planted 16×12
    cluster corpus: delete one member per cluster, and every affected
    survivor patches its list WITHOUT leaving its cluster — the u→d→x
    closure hands it the deleted neighbor's (in-cluster) out-edges.
    Asserts: no deleted id survives anywhere, ranks are dense from 1,
    ≥90% of patched links stay in-cluster, and the pass is
    deterministic (two runs, identical rows)."""
    dim, n_clusters, per = 64, 16, 12
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[c * 4] = 10.0
            v[c * 4 + 1] = 10.0
            for d in range(dim):
                v[d] += ((c * per + j) * 31 + d * 7) % 11 / 10.0
            rows.append((c * per + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = S.knn_graph_nndescent(emb, k=5, n_tables=2, rounds=1).select(
        "query_id", "neighbor_id"
    )
    deleted = emb.filter(F.col("vec_id") % per == 0).select(
        F.col("vec_id").alias("id")
    )
    adj1 = sorted(
        tuple(r)
        for r in S.knn_graph_delete_consolidate(
            g, emb, deleted, k=5, dim=dim
        ).collect()
    )
    adj2 = sorted(
        tuple(r)
        for r in S.knn_graph_delete_consolidate(
            g, emb, deleted, k=5, dim=dim
        ).collect()
    )
    assert adj1 == adj2
    assert adj1
    byu = {}
    for u, x, cmicro, rank in adj1:
        assert u % per != 0 and x % per != 0, (u, x)
        byu.setdefault(u, []).append((rank, x))
    for u, rx in byu.items():
        assert sorted(r for r, _ in rx) == list(range(1, len(rx) + 1))
    in_cluster = sum(
        1 for u, x, _, _ in adj1 if u // per == x // per
    )
    assert in_cluster / len(adj1) >= 0.9, in_cluster / len(adj1)


def test_knn_graph_insert_planted(spark):
    """Search-based insert (l135's operator) on the planted 16×12
    cluster corpus: hold out one member per cluster as the delta
    batch, build the graph on the rest, insert. The LSH probe lands
    each newcomer in its own cluster's buckets, so its top-5 links
    stay in-cluster (≥90%), and the reverse patch makes it REACHABLE:
    most touched base nodes adopt the newcomer into their re-ranked
    top-5. Deterministic across reruns."""
    dim, n_clusters, per = 64, 16, 12
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[c * 4] = 10.0
            v[c * 4 + 1] = 10.0
            for d in range(dim):
                v[d] += ((c * per + j) * 31 + d * 7) % 11 / 10.0
            rows.append((c * per + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = emb.filter(F.col("vec_id") % per != per - 1)
    delta = emb.filter(F.col("vec_id") % per == per - 1)
    npl = S.auto_n_planes(base.count())
    g = S.knn_graph_nndescent(
        base, k=5, n_planes=npl, n_tables=2, rounds=1
    ).select("query_id", "neighbor_id")

    def run():
        ins, pat = S.knn_graph_insert(
            g, base, delta, k=5, n_planes=npl, n_tables=2, dim=dim
        )
        return (
            sorted(tuple(r) for r in ins.collect()),
            sorted(tuple(r) for r in pat.collect()),
        )

    ins1, pat1 = run()
    ins2, pat2 = run()
    assert (ins1, pat1) == (ins2, pat2)
    assert ins1 and pat1
    # every delta node got linked, in-cluster, with dense ranks
    bydid = {}
    for did, x, cmicro, rank in ins1:
        assert did % per == per - 1 and x % per != per - 1, (did, x)
        bydid.setdefault(did, []).append((rank, x))
    assert len(bydid) == n_clusters
    for did, rx in bydid.items():
        assert sorted(r for r, _ in rx) == list(range(1, len(rx) + 1))
    in_cluster = sum(1 for d, x, _, _ in ins1 if d // per == x // per)
    assert in_cluster / len(ins1) >= 0.9, in_cluster / len(ins1)
    # reverse patch: touched nodes only, and newcomers get adopted
    touched = {x for _, x, _, _ in ins1}
    assert {u for u, _, _, _ in pat1} == touched
    adopted = {y for _, y, _, _ in pat1 if y % per == per - 1}
    assert len(adopted) >= n_clusters * 0.8, adopted


def test_l136_routed_serve_external_query_contract(spark):
    """Routed serving (l136): external-query semantics hold — the
    query never appears among its own results, ranks are dense 1..5,
    and the greedy-routed 2-hop overlap@5 with the exact top-5 is
    above the random-candidate chance floor (~2.5% at sf0.001). The
    upper-layer store is built once per (session, sf_dir): a second
    call returns the same entry and counts a hit."""
    from ekati_spark import session_store
    from ekati_spark.queries import REGISTRY, llm as L

    sf = "/root/testdata/sf0.001"
    try:
        rows = REGISTRY["l136_knn_graph_route_serve"].fn(spark, sf).collect()
        assert rows
        byq = {}
        for r in rows:
            assert r.neighbor_id != r.query_id
            byq.setdefault(r.query_id, []).append(r)
        for q, rs in byq.items():
            assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
        overlap = sum(r.in_exact_top5 for r in rows) / len(rows)
        assert overlap >= 0.05, overlap
        g1 = L._knn_graph(spark, sf, "l136_l1", where=L._L136_UPPER)
        hits = session_store.stats()["l136_l1"]["hits"]
        assert L._knn_graph(spark, sf, "l136_l1", where=L._L136_UPPER) is g1
        assert session_store.stats()["l136_l1"]["hits"] == hits + 1
    finally:
        for slot in (
            "l134_graph", "l135_graph", "l136_l1", "l136_entries",
            "knn_corpus",
        ):
            session_store.evict(spark, slot)
