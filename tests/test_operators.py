"""As-of join, text analysis, multimodal plumbing, and plan-shape
(scale-readiness) assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ekati_spark.catalog import load_table
from ekati_spark.metrics import final_tree
from ekati_spark.operators.asof import asof_join
from ekati_spark.operators import text as X
from ekati_spark.operators.multimodal import (
    content_stats,
    decode_image,
    extract_features,
    sample_frames,
    with_media_columns,
)


# -- as-of ------------------------------------------------------------------


@pytest.fixture(scope="module")
def asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 20, 50)],
        "event_id long, key long, t long",
    )
    right = spark.createDataFrame(
        [(10, 90, "a"), (10, 200, "b"), (10, 300, "c"), (20, 60, "d")],
        "key long, t long, val string",
    )
    return left, right


def test_asof_backward(spark, asof_fixture):
    left, right = asof_fixture
    out = asof_join(
        left, right, left_on="key", right_on="key", left_time="t", right_time="t"
    )
    got = {r.event_id: r.val for r in out.collect()}
    assert got == {1: "a", 2: "b", 3: None}


def test_asof_forward(spark, asof_fixture):
    left, right = asof_fixture
    out = asof_join(
        left,
        right,
        left_on="key",
        right_on="key",
        left_time="t",
        right_time="t",
        direction="forward",
    )
    got = {r.event_id: r.val for r in out.collect()}
    assert got == {1: "b", 2: "c", 3: "d"}


def _asof_reference(left, right, direction, tolerance):
    """Brute-force as-of join over Python rows ``(event_id, key, t)`` and
    ``(key, t, val)``: for each left row, scan every right row."""
    out = []
    for eid, key, t in left:
        hits = [
            (rt, rv) for rk, rt, rv in right
            if None not in (key, t, rk, rt) and rk == key
            and (rt <= t if direction == "backward" else rt >= t)
            and (tolerance is None or abs(rt - t) <= tolerance)
        ]
        # Spark orders a NULL struct field before every value
        pick = max if direction == "backward" else min
        best = pick(hits, key=lambda h: (h[0], h[1] is not None, h[1] or ""),
                    default=(None, None))
        out.append((eid, key, t, *best))
    return sorted(out, key=repr)


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("tolerance", [None, 10])
def test_asof_matches_brute_force(spark, direction, tolerance):
    import datetime as dt

    def day(n):
        return None if n is None else dt.datetime(2024, 1, 1) + dt.timedelta(days=n)

    left = [
        (1, 10, 100), (2, 10, 250), (3, 20, 50), (4, 10, 200),
        (5, 10, 210), (5, 10, 210),  # duplicate left rows
        (6, None, 100), (7, 10, None),  # NULL key, NULL time
        (8, 30, 100), (9, 30, 110), (10, 40, 100), (11, 10, 290),
    ]
    right = [
        (10, 90, "a"), (10, 200, "b"), (10, 300, "c"), (20, 60, "d"),
        (None, 90, "nullkey"), (None, 110, "nullkey2"), (10, None, "nulltime"),
        # ties on time with different values, one of them NULL
        (30, 90, "x"), (30, 90, "y"), (30, 110, "p"), (30, 110, "q"), (30, 110, None),
    ]
    left = [(e, k, day(t)) for e, k, t in left]
    right = [(k, day(t), v) for k, t, v in right]
    gap = None if tolerance is None else dt.timedelta(days=tolerance)
    out = asof_join(
        spark.createDataFrame(left, "event_id long, key long, t timestamp"),
        spark.createDataFrame(right, "key long, t timestamp, val string"),
        "key", "key", "t", "t", direction=direction,
        tolerance=None if tolerance is None else f"{tolerance} days",
    )
    assert out.columns == ["event_id", "key", "t", "t", "val"]
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == _asof_reference(left, right, direction, gap)


def test_asof_union_strategy_matches_join_strategy(spark, asof_fixture):
    """The union+window kernel agrees with the conditional-join
    formulation of the as-of join: an equi-join on the key with
    ``right.t <= left.t``, then the latest right row per left row."""
    left, right = asof_fixture
    a = asof_join(
        left, right, left_on="key", right_on="key", left_time="t", right_time="t"
    )
    l, r = left.alias("l"), right.alias("r")
    hits = (
        l.join(r, (F.col("l.key") == F.col("r.key")) & (F.col("r.t") <= F.col("l.t")))
        .groupBy(F.col("l.event_id").alias("event_id"))
        .agg(F.max_by(F.col("r.val"), F.col("r.t")).alias("val"))
    )
    b = left.join(hits, "event_id", "left")
    ga = {(r.event_id, r.val) for r in a.select("event_id", "val").collect()}
    gb = {(r.event_id, r.val) for r in b.select("event_id", "val").collect()}
    assert ga == gb == {(1, "a"), (2, "b"), (3, None)}


@pytest.mark.parametrize("name", ["r37_asof_join", "r68_asof_forward_tolerance"])
def test_asof_queries_plan_one_shuffle(spark, sf_dir, job_ids, name):
    """The as-of pass unions both sides under one hash Exchange on the
    key and plans no join; its write is one shuffle-map job and one
    result job."""
    import ekati_spark.queries as Q

    df = Q.REGISTRY[name].fn(spark, sf_dir)
    nodes = [n for _, n in final_tree(_plan(df))]
    exchanges = [n for n in nodes if n.startswith("Exchange ")]
    assert len(exchanges) == 1, nodes
    assert exchanges[0].startswith("Exchange hashpartitioning("), nodes
    assert not any("Join" in n for n in nodes), nodes
    _, jobs = job_ids(lambda: df.write.format("noop").mode("overwrite").save())
    assert len(jobs) == 2, jobs


# -- text -------------------------------------------------------------------


def test_lang_id_stopwords(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of it is that"),
            (2, "der hund und die katze ist nicht ein"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lang
        for r in df.select("doc_id", X.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    fp = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", X.content_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fp[1] == fp[2] != fp[3]


def test_quality_score_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    row = docs.select(
        F.min(X.quality_score(F.col("text"))).alias("lo"),
        F.max(X.quality_score(F.col("text"))).alias("hi"),
    ).first()
    assert 0.0 <= row.lo <= row.hi <= 1.0


# -- multimodal -------------------------------------------------------------


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01")


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    mm = content_stats(with_media_columns(docs, "text"))
    rows = mm.select("doc_id", "n_bytes", "content_md5", "media").collect()
    assert all(r.n_bytes > 0 and len(r.content_md5) == 32 for r in rows)
    assert rows[0].media.mime == "application/octet-stream"
    feats = extract_features(
        mm.select("doc_id", "content", "media"), fake=True
    ).collect()
    assert all(len(r.features) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r.features)


def test_frame_sampling(spark):
    df = spark.createDataFrame([(1, b"xx")], "doc_id long, payload binary")
    mm = with_media_columns(df, "payload").withColumn(
        "media",
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ),
    )
    frames = sample_frames(mm, every_ms=1000).collect()
    assert [r.frame_ms for r in frames] == [0, 1000, 2000, 3000]


# -- plan shape (scale readiness) ------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dim_join_is_broadcast(spark, sf_dir):
    import ekati_spark.queries as Q

    df = Q.REGISTRY["r09_join_broadcast_dims"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    import ekati_spark.queries as Q

    df = Q.REGISTRY["r22_global_topk"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_approx_count_distinct_bounds(spark, sf_dir):
    """HLL sketch (approx_count_distinct) within its configured rsd of the
    exact count — can't be oracle-matched (DuckDB's HLL differs), so the
    error contract is the test."""
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.06  # 3×rsd


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salted equi-join is row-identical to the plain join and spreads a
    hot key across salt partitions."""
    from ekati_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sk = supp.withColumnRenamed("s_suppkey", "l_suppkey")
    plain = li.join(sk, "l_suppkey").groupBy("l_suppkey").count()
    salted = (
        salted_join(li, sk, "l_suppkey", n_salts=4)
        .groupBy("l_suppkey")
        .count()
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_outer_keeps_unmatched(spark):
    from ekati_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, payload string"
    )
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k int, dim string")
    out = salted_join(big, small, "k", n_salts=3, how="left")
    rows = {(r.k, r.payload, r.dim) for r in out.collect()}
    assert rows == {
        (1, "a", "x"), (1, "b", "x"), (2, "c", "y"), (3, "d", None)
    }


def test_grouped_normalize_properties(spark, sf_dir):
    """applyInPandas z-scores: per-group mean ≈ 0, population std ≈ 1."""
    from ekati_spark.queries import REGISTRY

    out = REGISTRY["l16_grouped_normalize"].fn(spark, sf_dir)
    stats = out.groupBy("lang").agg(
        F.avg("z_len").alias("mu"),
        F.stddev_pop("z_len").alias("sd"),
        F.count("*").alias("n"),
    )
    for r in stats.collect():
        assert abs(r.mu) < 1e-9
        assert r.n == 1 or abs(r.sd - 1.0) < 1e-6


def test_shuffle_hash_join_hint(spark, sf_dir):
    """SHUFFLE_HASH hint is honored (ShuffledHashJoin in the plan)."""
    ords = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(
        ords.hint("SHUFFLE_HASH"), li.l_orderkey == ords.o_orderkey
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan


def test_row_python_udf_registers(spark):
    """Row-at-a-time Python UDF surface exists (documented slow path —
    never in hot paths; see README design rules)."""
    from pyspark.sql.types import IntegerType

    tag = F.udf(lambda s: len(s or ""), IntegerType())
    df = spark.createDataFrame([("ab",), ("xyz",)], "s string")
    assert {r.n for r in df.select(tag("s").alias("n")).collect()} == {2, 3}


def test_salted_join_rejects_right_full(spark):
    from ekati_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a")], "k int, payload string")
    small = spark.createDataFrame([(1, "x")], "k int, dim string")
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, "k", how=how)


def test_asof_union_ignores_null_right_times(spark):
    left = spark.createDataFrame([(10, 100)], "key long, t long")
    right = spark.createDataFrame(
        [(10, None, "nulltime"), (10, 90, "a")], "key long, t long, val string"
    )
    for direction, want in [("backward", {(10, "a")}), ("forward", {(10, None)})]:
        out = asof_join(left, right, "key", "key", "t", "t", direction=direction)
        assert {(r.key, r.val) for r in out.collect()} == want


def test_asof_preserves_duplicate_left_rows(spark):
    left = spark.createDataFrame(
        [(10, 100), (10, 100), (20, 50)], "key long, t long"
    )
    right = spark.createDataFrame([(10, 90, "a")], "key long, t long, val string")
    out = asof_join(left, right, "key", "key", "t", "t")
    assert out.count() == 3


def test_salted_join_single_column_big_side(spark):
    from ekati_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k int, dim string")
    out = salted_join(big, small, "k", n_salts=4)
    assert sorted((r.k, r.dim) for r in out.collect()) == [
        (1, "x"), (1, "x"), (2, "y")
    ]


def test_zero_norm_vector_scores_null_not_crash(spark):
    from ekati_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>"
    )
    row = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert row.c is None


def test_sample_frames_skips_empty_assets(spark):
    df = spark.createDataFrame([(1, b"xx"), (2, b"yy")], "doc_id long, payload binary")
    mm = with_media_columns(df, "payload").withColumn(
        "media",
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.when(F.col("doc_id") == 1, 2500).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ),
    )
    frames = sample_frames(mm, every_ms=1000).collect()
    assert {r.doc_id for r in frames} == {1}
    assert [r.frame_ms for r in frames] == [0, 1000, 2000]


def test_pii_redaction_planted(spark):
    from ekati_spark.operators import text as X

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@mail-host.org or call +1 (555) 123-4567"),
            (2, "docs at https://ex.com/a?b=c#d and http://t.co/xyz"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    c = X.pii_counts(F.col("text"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            c["email"].alias("ne"),
            c["url"].alias("nu"),
            c["phone"].alias("np"),
            X.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1].ne, out[1].np) == (1, 1)
    assert out[2].nu == 2
    assert (out[3].ne, out[3].nu, out[3].np) == (0, 0, 0)
    assert "<EMAIL>" in out[1].red and "<PHONE>" in out[1].red
    assert "jo.doe" not in out[1].red and "555" not in out[1].red
    assert out[2].red == "docs at <URL> and <URL>"
    assert out[3].red == "clean text with no identifiers at all"


def test_repetition_stats_known_values(spark):
    from ekati_spark.operators import text as X

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.repetition_stats(df).collect()}
    # doc 1: 5 words, 2 distinct; bigrams: ab, ba, ab, ba -> top 2/4
    assert out[1].n_words == 5
    assert out[1].dup_word_frac == 0.6
    assert out[1].top_word_frac == 0.6
    assert out[1].top_bigram_frac == 0.5
    # doc 2: all distinct
    assert out[2].dup_word_frac == 0.0 and out[2].top_bigram_frac == 0.5
    # doc 3: single word -> no bigrams
    assert out[3].top_bigram_frac is None


def test_pack_sequences_invariants(spark):
    from ekati_spark.operators import text as X

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(20)],
        "doc_id long, text string",
    )
    out = X.pack_sequences(df, budget=30, n_buckets=4).collect()
    assert len(out) == 20
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r.bucket, r.doc_id)):
        assert r.bucket == r.doc_id % 4
        by_bucket.setdefault(r.bucket, []).append(r)
    for rows in by_bucket.values():
        # offsets are the exclusive running sum within the bucket
        cum = 0
        for r in rows:
            assert r.tok_offset == cum
            assert r.pack_id == cum // 30
            cum += r.n_tokens


def test_embedding_dup_pairs_plan_shape(spark):
    """Perf contract: pair scoring runs in the grouped Arrow UDF, never
    in a nested-loop join condition (which evaluates interpreted)."""
    from ekati_spark.operators.dedup import embedding_dup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    plan = embedding_dup_pairs(df, 0.9)._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_pairs_plan_has_no_interpreted_transform(spark):
    """Perf contract: the shingle pipeline is explode+window, no lambda
    HOFs (transform/aggregate) anywhere in the pair plan."""
    from ekati_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id long, text string"
    )
    plan = ngram_jaccard_pairs(df, 0.1)._jdf.queryExecution().toString()
    assert "lambdafunction" not in plan


def test_resize_images_updates_bytes_and_metadata(spark):
    from ekati_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, b"x" * 500), (2, b"y" * 10)], "doc_id long, payload binary"
    )
    mm = with_media_columns(df, "payload").withColumn(
        "media",
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(640).cast("int").alias("width"),
            F.lit(480).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ),
    )
    out = {r.doc_id: r for r in resize_images(mm, 64, 64).collect()}
    assert all(len(r.content) == 64 for r in out.values())
    assert all(
        (r.media.width, r.media.height) == (64, 64) for r in out.values()
    )
    assert out[2].content.endswith(b"\0")


def test_hll_sketch_rollup_error_bound(spark, sf_dir):
    """Merged-sketch estimates stay within 5% of exact distinct counts."""
    from ekati_spark.queries import REGISTRY

    rows = {
        r.n_regionkey: r
        for r in REGISTRY["r47_hll_sketch_rollup"].fn(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    exact = {
        r.n_regionkey: r.ex
        for r in cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("ex"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k, ex in exact.items():
        assert rows[k].exact_customers == ex
        assert rows[k].est_ok, f"region {k}: sketch estimate off by >5%"


def test_fuzzy_dedup_plan_has_no_nested_loop_join(spark, sf_dir):
    """Perf contract (l17): length-bucket blocking makes the pair join an
    equi-join — a BroadcastNestedLoopJoin here would be O(n^2) pair
    enumeration at scale."""
    from ekati_spark.queries import REGISTRY

    df = REGISTRY["l17_fuzzy_dedup_pairs"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_l71_headline_substrate_is_banded(spark, sf_dir):
    """Perf contract (l71, round-11 verdict item 2): the threshold
    sweep's headline pair source must be the MinHash-banded candidate
    join, NOT the shingle inverted-index all-pairs self-join (cost ∝
    Σ bucket² — a scale-killer at 100 TB). The banded plan joins on
    the xxhash64 band key; after the shingle table's lineage cut, the
    raw shingle string column ``g`` cannot appear in any join — an
    ``a.g = b.g`` equi-join would surface it."""
    from ekati_spark.queries.llm import _l71_pair_source

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(_l71_pair_source(docs))
    assert "band_hash" in plan, plan
    assert " g#" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sliding_distinct_plan_explodes_after_distinct(spark, sf_dir):
    """Perf contract (r53): the 7x window explode runs on the reduced
    (day, user) pair set, i.e. the Generate sits above a shuffle-backed
    aggregate, never directly on the raw scan."""
    from ekati_spark.queries import REGISTRY

    plan = (
        REGISTRY["r53_sliding_distinct_users"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .toString()
    )
    lines = plan.splitlines()
    gen = next(i for i, l in enumerate(lines) if "Generate" in l)
    scan = next(
        i for i, l in enumerate(lines) if "Scan parquet" in l or "FileScan" in l
    )
    between = "\n".join(lines[gen:scan])
    assert "Exchange" in between, between


def test_graded_set_plans_have_no_accidental_cartesian(spark, sf_dir):
    """Scale audit over the FULL registry: no query may plan a
    CartesianProduct or BroadcastNestedLoopJoin. Exceptions, each an
    intended plan: l06_knn_bruteforce (the tiny 10-row query set
    broadcasts against the embedding scan — the documented |Q|*n exact
    baseline the ANN paths are judged against), g26_graph_stats
    (cross join of two single-row aggregates; BNLJ broadcasting one row
    is optimal at any scale), l15_knn_ivf (the IVF probe: queries x
    broadcast n_lists-row centroid table — candidate scoring itself is
    an equi-join on list_id), l31_domain_mix (#domains-row rate
    table x broadcast 1-row max aggregate), l45_bitext_margin_pairs
    (the exact all-pairs mining baseline — the production path feeds
    ANN candidate pairs into the same margin scoring),
    l33_hard_negatives (the l06 shape: 10-row broadcast query side,
    non-equi label-mismatch predicate — the exact mining baseline),
    l34_vocab_coverage / l36_source_token_report (1-row corpus-total
    cross joins for share-of-total columns), r49_data_quality_audit
    (five 1-row audit aggregates cross-joined into one lazy plan),
    l47_token_waterfill (1-row budget + 1-row binding-cap aggregates
    cross-joined onto the #sources-row frame), l49_dsir_importance
    (the 1-row smoothing-totals aggregate broadcast onto the
    vocabulary frame), l52_bigram_interp_logprob (the 1-row corpus
    total broadcast onto the scored-positions frame — and
    l117_stupid_backoff_score, the same shape at order 3),
    g31_nation_modularity (three 1-row integer aggregates cross-joined
    into the final scalar), l58_sq8_recall_audit (the l06/l33 shape
    twice: 10-row broadcast query side with the vec_id<>query_id
    self-exclusion as the only non-equi predicate — per-pair scoring
    stays in the projection, not the join condition), and
    l64_skipgram_collocations (the N and P corpus totals — two 1-row
    aggregates broadcast onto the scored-pairs frame), and
    g28_engine_metrics (driver-side telemetry frames, O(stages)
    rows), and l124_dedup_cascade_report (the r49 shape: four 1-row
    stage-count aggregates cross-joined into the 3-row report), and r67_kmv_set_ops (the final one-row report: the ≤2k-row
    sketch sample joined with four 1-row aggregates — nm/c/n_a/n_b —
    all broadcast; the data-sized work upstream is distinct-agg +
    bottom-k windows), and l91_maxsim_late_interaction (the l06 shape:
    the benchmark-sized query CHUNK table broadcasts against the
    corpus-chunk scan — the exact MaxSim baseline; production feeds
    ANN candidates into the identical scoring plan)."""
    from ekati_spark.queries import REGISTRY

    allowed = {
        "l06_knn_bruteforce",
        "g26_graph_stats",
        "l15_knn_ivf",
        "l31_domain_mix",
        "l45_bitext_margin_pairs",
        "l33_hard_negatives",
        "l34_vocab_coverage",
        "l36_source_token_report",
        "r49_data_quality_audit",
        "l47_token_waterfill",
        "l49_dsir_importance",
        "l52_bigram_interp_logprob",
        "l117_stupid_backoff_score",
        "g31_nation_modularity",
        "l58_sq8_recall_audit",
        "l64_skipgram_collocations",
        "g28_engine_metrics",
        "r67_kmv_set_ops",
        "l91_maxsim_late_interaction",
        "l124_dedup_cascade_report",
        # l127's dense arm and l130's exact-ground-truth arm are l06's
        # sanctioned shape (the <=10-row query side broadcasts against
        # the corpus scan, non-equi on id); l127b's exact-audit arm is
        # the same shape (its SERVING arms are bucket/posting equi-joins
        # — the BNLJ is only the brute-force ground truth the audit
        # column compares against)
        "l127_hybrid_rrf_fusion",
        "l127b_hybrid_rrf_indexed",
        "l130_retrieval_quality_metrics",
        # l133's exact-audit arm is the same l06 shape (brute-force
        # ground truth for the in_exact_top5 column); its SERVING path
        # — store read, 2-hop expansion, re-rank — is equi-joins only
        "l133_knn_graph_serve",
        # l136's exact-audit arm is the same l06 shape; its routed
        # SERVING path — entry literals, beam steps, store reads,
        # 2-hop expansion — is equi-joins only
        "l136_knn_graph_route_serve",
    }
    flagged = {}
    for name in list(REGISTRY):
        if name in allowed:
            continue
        plan = _plan(REGISTRY[name].fn(spark, sf_dir))
        hits = [
            k
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if k in plan
        ]
        if hits:
            flagged[name] = hits
    assert not flagged, flagged


def test_decode_image_pillow_fallback_non_png():
    """Pillow fallback for non-PNG formats (skipped in this container;
    PNG itself decodes natively — tests/test_png.py, unconditional): a
    2x2 BMP yields the 8-float feature contract in [0, 1]."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (2, 2), (255, 0, 0)).save(buf, format="BMP")
    feats = decode_image(buf.getvalue())
    assert len(feats) == 8
    assert all(0.0 <= v <= 1.0 for v in feats)


# -- hashed linear quality classifier (l48) --------------------------------


def test_classifier_scores_match_hand_computation(spark):
    """Replay the hashing trick by hand for a two-token doc: md5 bucket ->
    frozen integer milli-weight -> exact mean. Guards the constants and
    the explode/agg shape."""
    import hashlib

    from ekati_spark.operators.text import (
        CLASSIFIER_DIM, _W_MULT, _W_OFFSET, classifier_scores,
    )

    def milli(tok: str) -> int:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return ((h % CLASSIFIER_DIM) * _W_MULT + _W_OFFSET) % 2001 - 1000

    df = spark.createDataFrame([(7, "en", "alpha beta")], ["doc_id", "lang", "text"])
    row = classifier_scores(df).collect()[0]
    want_sum = milli("alpha") + milli("beta")
    assert row.n_tok == 2
    assert row.logit == want_sum / 2000.0
    assert row.keep == (want_sum > 0)


def test_classifier_plan_is_codegen_partial_agg(spark):
    """Scale shape: per-token weight must be codegen (no interpreted array
    HOFs, no Python), and the doc aggregate must have a map-side partial
    (two HashAggregates around one Exchange) so shuffle ∝ docs."""
    from ekati_spark.operators.text import classifier_scores

    df = classifier_scores(
        spark.createDataFrame([(1, "en", "a b c")], ["doc_id", "lang", "text"])
    )
    plan = _plan(df)
    assert "Python" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "transform(" not in plan and "aggregate(" not in plan


def test_classifier_keep_rate_is_balanced(spark, sf_dir):
    """Zero-mean weight prior => the keep decision splits the corpus
    roughly in half (sanity that the logit isn't degenerate/constant)."""
    import ekati_spark.queries as Q

    rows = Q.REGISTRY["l48_quality_classifier"].fn(spark, sf_dir)
    agg = rows.agg(
        F.avg(F.col("keep").cast("double")).alias("rate"),
        F.countDistinct(F.round("logit", 6)).alias("n_distinct"),
    ).collect()[0]
    assert 0.05 < agg.rate < 0.95
    assert agg.n_distinct > 100


def test_dsir_importance_separates_target_tokens(spark):
    """Planted DSIR check: docs made of target-only tokens must score
    positive (more likely under target than raw), raw-only docs
    negative, and a doc drawn from the raw marginal ~0."""
    import tempfile

    import ekati_spark.queries as Q

    rows = [
        # target slice (lang=en) uses tokens {aa bb}
        (1, "en", "aa bb aa bb"),
        (2, "en", "bb aa bb aa"),
        # raw-only slice uses tokens {cc dd}
        (3, "de", "cc dd cc dd"),
        (4, "de", "dd cc dd cc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {
            r.doc_id: r.avg_log_ratio
            for r in Q.REGISTRY["l49_dsir_importance"].fn(spark, d).collect()
        }
    assert got[1] > 0 and got[2] > 0, "target-domain docs must score up"
    assert got[3] < 0 and got[4] < 0, "out-of-target docs must score down"
    assert got[1] > got[3]


def test_max_concurrency_carries_over_midnight(spark):
    """A session spanning midnight must surface as next-day concurrency
    even though the next day's only real boundary is its end event:
    day2's peak is the carry, attained at the injected midnight row."""
    import datetime as dt
    import tempfile

    import ekati_spark.queries as Q

    D1 = dt.datetime(2024, 3, 1)
    rows = [
        # user 1: 23:50 -> 00:10 next day, one session across midnight
        (1, D1 + dt.timedelta(hours=23, minutes=50), 10, "c", 0.0, "{}"),
        (2, D1 + dt.timedelta(days=1, minutes=10), 10, "c", 0.0, "{}"),
        # user 2: point session at 23:55
        (3, D1 + dt.timedelta(hours=23, minutes=55), 20, "c", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r.day: (r.peak_concurrency, r.at_ts)
            for r in Q.REGISTRY["r57_max_concurrency"].fn(spark, d).collect()
        }
    assert got[D1] == (2, D1 + dt.timedelta(hours=23, minutes=55))
    assert got[D1 + dt.timedelta(days=1)] == (1, D1 + dt.timedelta(days=1))


def test_scd2_collapses_nochange_cdc_rows(spark):
    """A CDC feed re-emitting unchanged rows must not open new SCD2
    versions; intervals chain [from, to) and only the last is current."""
    import datetime as dt
    import tempfile

    import ekati_spark.queries as Q

    T = lambda m: dt.datetime(2024, 5, 1, 0, m)  # noqa: E731
    rows = [
        (1, T(1), 7, "purchase", 10.0, "{}"),
        (2, T(2), 7, "purchase", 10.0, "{}"),   # no-change -> collapsed
        (3, T(3), 7, "purchase", 20.0, "{}"),
        (4, T(4), 7, "purchase", 20.0, "{}"),   # no-change -> collapsed
        (5, T(5), 7, "purchase", 10.0, "{}"),   # back to 10: NEW version
        (6, T(6), 7, "view", 99.0, "{}"),       # other stream, ignored
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = sorted(
            (r.version, r.state, r.valid_from, r.valid_to, r.is_current)
            for r in Q.REGISTRY["r59_scd2_history"].fn(spark, d).collect()
        )
    assert got == [
        (1, 10.0, T(1), T(3), False),
        (2, 20.0, T(3), T(5), False),
        (3, 10.0, T(5), None, True),
    ]


def test_bigram_interp_is_word_order_sensitive(spark):
    """Metamorphic: scrambling word order preserves the unigram model
    but must lower the interpolated-bigram score for text whose bigrams
    repeat (the property l27's unigram model cannot see)."""
    import tempfile

    import ekati_spark.queries as Q

    coherent = "the cat sat on the mat " * 5 + "the cat sat on the mat"
    toks = coherent.split()
    scrambled = " ".join(
        toks[i] for i in sorted(range(len(toks)), key=lambda i: (i * 17) % len(toks))
    )
    df = spark.createDataFrame(
        [(1, coherent), (2, scrambled)], ["doc_id", "text"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {
            r.doc_id: r.avg_interp_logprob
            for r in Q.REGISTRY["l52_bigram_interp_logprob"].fn(spark, d).collect()
        }
    assert got[1] > got[2], got


def test_topk_with_ties_plans_window_group_limit(spark, sf_dir):
    """r72's rank-only window + constant bound must qualify for the
    WindowGroupLimit rewrite (map-side partial top-k below the
    per-group sort), same as the row_number form."""
    from ekati_spark.queries.relational import r72_topk_with_ties

    plan = (
        r72_topk_with_ties(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:800]


def test_adaptive_quality_topq_histogram_equals_naive_rank(spark, sf_dir):
    """The histogram-cutover formulation must select the exact set the
    naive per-doc rank window selects, including tie docs at the cut
    score (ties keep smallest ids first)."""
    from pyspark.sql import Window, functions as F

    from ekati_spark.catalog import load_table
    from ekati_spark.operators.text import (
        adaptive_quality_topq, classifier_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # force w_sum ties at the cut: two identical-text docs per source
    clones = docs.limit(4).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    clones2 = clones.select(
        (F.col("doc_id") + 1).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    corpus = docs.unionByName(clones).unionByName(clones2)
    got = sorted(
        map(tuple, adaptive_quality_topq(corpus, q=(3, 10)).collect())
    )
    scores = classifier_scores(
        corpus, carry_cols=("source",)
    ).select(
        "doc_id", "source",
        # round, not cast: logit is w_sum/(n_tok*1000) in double, and
        # truncating the reconstruction loses 1 on inexact quotients
        F.round(F.col("logit") * F.col("n_tok") * 1000.0)
        .cast("long")
        .alias("ws"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("ws"), F.asc("doc_id"))
    naive = scores.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    ).filter(F.col("rn") <= (F.col("n") * 3 + 9) / 10)
    want = sorted(
        (r["doc_id"], r["source"], r["ws"]) for r in naive.collect()
    )
    assert got == want


def test_adaptive_quality_topq_exact_rational_k(spark):
    """k = ceil(n * num / den) per group: 7 docs at 30% -> 3 kept."""
    from pyspark.sql import functions as F

    from ekati_spark.operators.text import adaptive_quality_topq

    rows = [(i, f"tok{i} " * (i + 1), "s") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = adaptive_quality_topq(df, q=(3, 10)).collect()
    assert len(kept) == 3


def test_round11_plans_broadcast_their_small_sides(spark, sf_dir):
    """The round-11 operators' dimension-sized sides must broadcast:
    l105's quota table, l106's 1024-row projection matrix, l112's
    per-source boilerplate vocab. A SortMergeJoin on any of these
    would shuffle the big side against a KB-scale table."""
    import ekati_spark.queries as Q

    for name in (
        "l105_temperature_mixing",
        "l106_jl_projection_recall",
        "l112_source_stopword_scrub",
    ):
        plan = _plan(Q.REGISTRY[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name


def test_bloom_probe_plan_has_no_shuffle_before_filter(spark, sf_dir):
    """l94's probe contract: the corpus reaches the bloom verdict
    without an Exchange — positions are codegen exprs and the bitmap
    rides in the UDF closure, so the only shuffles in the whole plan
    belong to the shingle window and the final groupBy, never to the
    probe itself. Guard: the plan contains exactly the ArrowEvalPython
    probe node and no SortMergeJoin anywhere."""
    import ekati_spark.queries as Q

    plan = _plan(Q.REGISTRY["l94_bloom_decontaminate"].fn(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan


def test_collect_bounded_contract(spark):
    """Driver-side small-by-contract bound (round-11 verdict item 9):
    within bound = exactly collect(); beyond bound = loud ValueError
    naming the contract, never an unbounded driver materialization."""
    import pytest as _pytest

    from ekati_spark.driverside import collect_bounded

    df = spark.range(10)
    assert sorted(r.id for r in collect_bounded(df, 10, "ok side")) == list(
        range(10)
    )
    with _pytest.raises(ValueError, match="centroid table"):
        collect_bounded(spark.range(11), 10, "centroid table")


def test_similarity_query_side_bound_enforced(spark):
    """The ANN index builders' collected sides are contract-bounded:
    a query side past 100k rows must abort instead of collecting."""
    import pytest as _pytest

    from ekati_spark.operators.similarity import pq_topk_int

    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    big_queries = spark.range(100_001).selectExpr(
        "id AS query_id", "array(CAST(id AS float), 1.0F) AS query_vec"
    )
    with _pytest.raises(ValueError, match="query side"):
        pq_topk_int(corpus, big_queries, k=2, m_sub=2, ksub=4).count()


def test_round12_plan_contracts(spark, sf_dir):
    """Scale contracts for the round-12 operators:

    - l116 sorted-neighborhood: candidate generation is WINDOWS, never
      a join — the only joins allowed in the whole plan are none; all
      pairing rides lead() inside (pass, blk) windows.
    - l117 stupid-backoff: every scoring join is an equi-join on
      n-gram keys (no nested loop); the 1-row corpus total is the one
      sanctioned broadcast-nested-loop (allowlisted in the cartesian
      sweep).
    - l119 k-NN graph: the corpus never broadcasts — candidate
      generation joins on the bucket key, scoring joins on vector ids;
      no BroadcastNestedLoopJoin/CartesianProduct anywhere.
    - g49/g50 Borůvka substrate: the 4-table projection joins are
      equi-joins; no cartesian anywhere (also swept globally)."""
    import ekati_spark.queries as Q

    p116 = _plan(Q.REGISTRY["l116_sorted_neighborhood_pairs"].fn(spark, sf_dir))
    assert "Window" in p116, p116
    for bad in ("SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in p116, (bad, p116)

    p117 = _plan(Q.REGISTRY["l117_stupid_backoff_score"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p117
    # the only BNLJ is the 1-row tot broadcast
    assert p117.count("BroadcastNestedLoopJoin") <= 1, p117

    p119 = _plan(Q.REGISTRY["l119_knn_graph_refine"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p119
    assert "CartesianProduct" not in p119

    for name in ("g49_trade_backbone_mst", "g50_trade_single_linkage"):
        p = _plan(Q.REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_multi_width_shingles_match_per_width(spark, sf_dir):
    """multi_width_shingle_rows (one fused scan) emits EXACTLY the
    per-width shingle_rows sets — the l131 fusion's row-set contract,
    including short docs (no rows at widths past their token count)."""
    from ekati_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").limit(80)
    fused = D.multi_width_shingle_rows(docs, [8, 13]).collect()
    got = {(r.id, r.n, r.g) for r in fused}
    want = set()
    for w in (8, 13):
        want |= {
            (r.id, w, r.g)
            for r in D.shingle_rows(docs, w).collect()
        }
    assert got == want
    # plus a synthetic short-doc edge: 9 tokens -> 8-grams only
    tiny = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, None), (3, "x")],
        "doc_id long, text string",
    )
    rows = D.multi_width_shingle_rows(tiny, [8, 13]).collect()
    assert {(r.id, r.n, r.g) for r in rows} == {
        (1, 8, "a b c d e f g h"),
        (1, 8, "b c d e f g h i"),
    }


def test_l131_single_corpus_scan(spark, sf_dir):
    """The fused l131 shingles the corpus ONCE: exactly two parquet
    scans read the text column (train corpus + benchmark side) — the
    round-13 two-pass form had four. The per-source rollup scans are
    column-pruned (no text)."""
    import ekati_spark.queries as Q

    plan = _plan(Q.REGISTRY["l131_contamination_report"].fn(spark, sf_dir))
    text_scans = sum(
        1
        for seg in plan.split("ReadSchema: ")[1:]
        if "text:string" in seg.split("\n", 1)[0]
    )
    assert text_scans == 2, (text_scans, plan)


def test_l121_frame_pass_emits_integers_only(spark, sf_dir):
    """l121's Arrow pass must emit (doc_id, frame, energy) integers —
    audio payload bytes never shuffle. Guard: the plan's only Python
    node is the mapInPandas frame pass and no binary column appears
    in any Exchange."""
    import ekati_spark.queries as Q

    plan = _plan(Q.REGISTRY["l121_audio_vad_segments"].fn(spark, sf_dir))
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan
    assert "binary" not in plan.lower().split("exchange", 1)[-1][:400], plan


def test_cascade_survivor_lineage_cuts_hold(spark, sf_dir):
    """l124's cascade re-invokes stage registry fns; the survivor
    frames between stages are lineage-cut, so consumers read
    materialized state instead of re-deriving earlier stages. Guard
    against a future stage edit silently quadraticing the cascade:
    the RETURNED plan may scan documents only once (the tot count)
    and embeddings at most once (stage 3's k-means tail is itself
    lineage-cut) — stage 1/2 recomputation would re-scan documents
    per consumer — and the cut survivor state must appear as
    ExistingRDD scans."""
    import ekati_spark.queries as Q

    plan = _plan(Q.REGISTRY["l124_dedup_cascade_report"].fn(spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("embeddings.parquet") <= 1, plan
    assert "ExistingRDD" in plan, plan


def test_l127_rrf_fusion_semantics(spark, sf_dir):
    """RRF invariants: every fused doc came from an arm (rank <= 50 on
    at least one side), scores are exactly the integer nano fusion of
    the present arms, and a doc found by BOTH arms at rank r beats a
    doc found by ONE arm at the same rank."""
    import ekati_spark.queries as Q

    rows = Q.REGISTRY["l127_hybrid_rrf_fusion"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert [r.rank for r in rows] != []
    for r in rows:
        arms = [x for x in (r.lex_rank, r.dense_rank) if x is not None]
        assert arms, r
        assert all(1 <= a <= 50 for a in arms), r
        expect = sum(1_000_000_000 // (60 + a) for a in arms)
        assert r.rrf_nano == expect, r
    # total order: rrf desc, doc_id asc
    key = [(-r.rrf_nano, r.doc_id) for r in rows]
    assert key == sorted(key)


def test_l127b_indexed_fusion_semantics(spark, sf_dir):
    """l127b invariants: 10 distinct picks ranked 1..10 under (rrf
    desc, doc_id); every row has at least one arm rank; the audit
    column is 0/1 and marks exactly the docs in l127's exact fused
    top-10 (recomputed here from the registry fn)."""
    import ekati_spark.queries as Q

    rows = sorted(
        Q.REGISTRY["l127b_hybrid_rrf_indexed"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, 11))
    assert len({r.doc_id for r in rows}) == 10
    for r in rows:
        assert r.lex_rank is not None or r.dense_rank is not None
        assert r.in_exact_top10 in (0, 1)
    key = [(-r.rrf_nano, r.doc_id) for r in rows]
    assert key == sorted(key)
    exact = {
        r.doc_id
        for r in Q.REGISTRY["l127_hybrid_rrf_fusion"].fn(
            spark, sf_dir
        ).collect()
    }
    for r in rows:
        assert r.in_exact_top10 == int(r.doc_id in exact), r


def test_l93_persisted_ivf_probe_prunes_list_partitions(spark, sf_dir):
    """The REGISTERED persisted-IVF query (l93: GC'd index, standard
    probe) scans the list-partitioned store with PLANNING-TIME
    partition pruning — `PartitionFilters` on ``list_id`` in the
    executed scan, never a post-scan filter (the round-14 verdict's
    ask: the l75/l93 pruning story asserted on an oracle-backed
    entry's own executed plan, not just the operator helper)."""
    import ekati_spark.queries as Q

    df = Q.REGISTRY["l93_ivf_delete_parity"].fn(spark, sf_dir)
    assert df.count() > 0
    plan = _plan(df)
    assert "PartitionFilters: [" in plan, plan[:400]
    tail = plan.split("PartitionFilters: [", 1)[1][:60]
    assert "list_id" in tail, tail


def test_l127b_store_cache_warm_serve_and_eviction(spark, sf_dir):
    """The l127b postings store builds ONCE per (session, sf_dir) and
    warm invocations serve from it byte-identically (the l86
    store-vs-rebuild identity); switching the session to another
    sf_dir evicts AND removes the previous store directory (no tempdir
    accretion — the round-14 advice)."""
    import os

    import ekati_spark.queries as Q
    from ekati_spark import session_store
    from ekati_spark.queries.llm import _l127b_store

    def misses():
        return session_store.stats()["l127b_postings"]["misses"]

    fn = Q.REGISTRY["l127b_hybrid_rrf_indexed"].fn
    cold = sorted(map(tuple, fn(spark, sf_dir).collect()))
    p1 = _l127b_store(spark, sf_dir)
    assert os.path.exists(f"{p1}/postings")
    built = misses()
    # warm: same store path, no rebuild, identical result
    assert _l127b_store(spark, sf_dir) == p1
    warm = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert warm == cold
    assert misses() == built
    # eviction: a new sf_dir for the same session removes the old store
    other = "/root/testdata/sf0.01"
    p2 = _l127b_store(spark, other)
    try:
        assert p2 != p1
        assert not os.path.exists(p1)
        assert os.path.exists(f"{p2}/postings")
    finally:
        session_store.evict(spark, "l127b_postings")
    assert not os.path.exists(p2)


def test_l128_mmr_semantics(spark, sf_dir):
    """MMR invariants: 10 distinct picks; pick 1 is the pure-relevance
    argmax with score 7*rel; every pick is in the top-50 relevance
    pool; scores stay inside the algebraic bounds |7·rel| + |3·sim|
    (the penalty term can ADD when pairwise cosines are negative, as
    on these near-random embeddings — so no one-sided bound vs 7·rel
    holds by construction)."""
    import ekati_spark.queries as Q
    from ekati_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pool = {
        r.neighbor_id for r in S.brute_force_topk(emb, q, k=50).collect()
    }
    rows = sorted(
        Q.REGISTRY["l128_mmr_diversified_topk"].fn(spark, sf_dir).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert [r.mmr_rank for r in rows] == list(range(1, 11))
    assert len({r.doc_id for r in rows}) == 10
    assert all(r.doc_id in pool for r in rows)
    first = rows[0]
    assert first.score == 7 * first.rel_micro
    assert first.rel_micro == max(r.rel_micro for r in rows)
    for r in rows[1:]:
        assert abs(r.score) <= 7 * 1_000_000 + 3 * 1_000_000


def test_mmr_greedy_str_ids():
    """The MMR greedy's tie-break contract holds for str ids too (the
    round-13 advice flagged a negated possibly-str key — a TypeError):
    ascending-id iteration + strict > keeps the smallest id on score
    ties, for int AND str id types."""
    from ekati_spark.queries.llm import _mmr_greedy

    rel = {"b": 100, "a": 100, "c": 50}
    out = _mmr_greedy(rel, sim={}, k=3)
    # tie on score 700 between "a" and "b" -> "a" first
    assert [d for _, d, _, _ in out] == ["a", "b", "c"]
    assert out[0] == (1, "a", 100, 700)
    # int ids: same contract
    out_i = _mmr_greedy({2: 9, 1: 9}, sim={}, k=2)
    assert [d for _, d, _, _ in out_i] == [1, 2]
    # diversity penalty actually reorders: near-dup of the first pick
    # loses to a diverse lower-relevance candidate
    rel2 = {1: 100, 2: 99, 3: 60}
    sim2 = {(2, 1): 1_000_000, (1, 2): 1_000_000}
    out2 = _mmr_greedy(rel2, sim2, k=3)
    assert [d for _, d, _, _ in out2] == [1, 3, 2]


def test_l129_reweighting_semantics(spark, sf_dir):
    """MW reweighting invariants: weights sum to EXACTLY 1e6 ppm
    (largest-remainder contract), and the mapping excess -> weight is
    monotone (a domain with strictly higher excess never gets a lower
    weight — multiplicative updates preserve order from the uniform
    start)."""
    import ekati_spark.queries as Q

    rows = Q.REGISTRY["l129_domain_reweighting"].fn(spark, sf_dir).collect()
    assert sum(r.weight_ppm for r in rows) == 1_000_000
    by_excess = sorted(rows, key=lambda r: r.excess_ppm)
    for lo, hi in zip(by_excess, by_excess[1:]):
        if hi.excess_ppm > lo.excess_ppm:
            assert hi.weight_ppm >= lo.weight_ppm, (lo, hi)


def test_r78_pivot_unpivot_roundtrip(spark, sf_dir):
    """PIVOT/UNPIVOT inverse pair: melting the wide revenue matrix back
    to long form reproduces the direct long-form aggregate exactly
    (NULL cells = flag absent for that priority drop out of the melt,
    matching the direct groupBy's absent rows)."""
    import ekati_spark.queries as Q

    wide = Q.REGISTRY["r78_pivot_revenue_matrix"].fn(spark, sf_dir)
    melted = wide.unpivot(
        "priority",
        [F.col("rev_a").alias("A"), F.col("rev_n").alias("N"),
         F.col("rev_r").alias("R")],
        "rf", "rev",
    ).filter(F.col("rev").isNotNull())
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    from ekati_spark.queries.base import dsum

    direct = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_returnflag").alias("rf"),
        )
        .agg(dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
        ).alias("rev"))
    )
    got = {(r.priority, r.rf): r.rev for r in melted.collect()}
    want = {(r.priority, r.rf): r.rev for r in direct.collect()}
    assert got == want


def test_l130_metric_invariants(spark, sf_dir):
    """Metric algebra: 0 <= recall_ppm <= 1e6 with n_hits*1e5
    consistency; mrr_nano in {0} ∪ [1e8, 1e9]; ndcg_ppm <= 1e6 and 0
    iff dcg 0; a perfect ANN list (rel at every rank) would give
    ndcg_ppm == 1e6 — asserted via the discount-sum identity."""
    import ekati_spark.queries as Q
    from ekati_spark.queries.llm import _IDCG10, _NDCG_DISC

    assert sum(_NDCG_DISC) == _IDCG10
    rows = Q.REGISTRY["l130_retrieval_quality_metrics"].fn(
        spark, sf_dir
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.recall_ppm == r.n_hits * 100_000
        assert 0 <= r.recall_ppm <= 1_000_000
        assert r.mrr_nano == 0 or 100_000_000 <= r.mrr_nano <= 10**9
        assert 0 <= r.ndcg_ppm <= 1_000_000
        assert (r.ndcg_ppm == 0) == (r.dcg_micro == 0)
        assert r.dcg_micro <= _IDCG10


def test_l131_contamination_monotone_in_n(spark, sf_dir):
    """A 13-gram hit implies an 8-gram hit (every 13-gram contains
    8-grams shared verbatim), so per source the strict-n rate is <=
    the loose-n rate; totals are identical across slices."""
    import ekati_spark.queries as Q

    rows = Q.REGISTRY["l131_contamination_report"].fn(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.n] = r
    for src, d in by_src.items():
        assert set(d) == {8, 13}, src
        assert d[8].docs_total == d[13].docs_total
        assert d[13].docs_contaminated <= d[8].docs_contaminated, src
        assert d[13].rate_ppm <= d[8].rate_ppm, src
