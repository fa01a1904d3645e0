"""Dedup-operator tests: LSH recall vs exact baselines, SimHash
properties, exact-dedup semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ekati_spark.catalog import load_table
from ekati_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_dir):
    """Documents plus planted near-duplicates (known ground truth)."""
    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # exact copy (id+10000) and a lightly-edited copy (id+20000)
    copy = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.col("text"),
        "lang",
        "source",
        "n_chars",
    )
    edited = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing token")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return base.unionByName(copy).unionByName(edited)


def test_exact_dedup_finds_planted_copies(docs_with_dups):
    out = D.exact_dedup(docs_with_dups).filter(F.col("n_copies") > 1)
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.n_copies == 2 and r.kept_id < 10000 for r in rows)


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r.kept_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_recall_vs_exact(docs_with_dups):
    """Every planted near-dup pair (Jaccard ≥ .5) must be found by LSH."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs_with_dups, threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert exact, "ground truth should contain the planted pairs"
    missed = exact - lsh
    assert len(missed) / len(exact) <= 0.05, f"LSH recall too low: missed {missed}"
    # verification step guarantees precision: every LSH pair is a real pair
    assert lsh <= exact


def test_minhash_jaccard_values_match_exact(docs_with_dups):
    ex = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    for r in D.minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect():
        assert ex[(r.id_a, r.id_b)] == pytest.approx(r.jaccard, abs=1e-9)


def test_simhash_identical_and_distinct(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    out = D.simhash_pairs(df, max_hamming=0, prefix_bits=0)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_frame_matches_reference_udf(spark):
    """SimHash pairs over token-less docs: whitespace-only, empty and
    NULL texts (the tab-only doc 2 included) pair with nothing, and
    lowercasing makes docs 1 and 5 identical."""
    edge = spark.createDataFrame(
        [(1, "a b c"), (2, " \t\n "), (3, ""), (4, None), (5, "A b C")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(edge, max_hamming=0, prefix_bits=0).collect()
    }
    assert pairs == {(1, 5)}


def test_embedding_dup_pairs_selfsim(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),  # nearly identical
            (3, [0.0, 1.0, 0.0]),  # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in D.embedding_dup_pairs(df, 0.99).collect()}
    assert pairs == {(1, 2)}


def test_shingles_short_doc_empty(spark):
    """Docs with < n tokens yield an empty shingle set, not an ANSI
    element_at abort (sequence(1,0) descends)."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "one two three four")],
        "doc_id long, text string",
    )
    out = {r.doc_id: len(r.sh) for r in df.select(
        "doc_id", D.shingles(F.col("text"), 3).alias("sh")).collect()}
    assert out == {1: 0, 2: 2}
    # and the pair pipeline survives short docs end-to-end
    assert D.ngram_jaccard_pairs(df, threshold=0.1).count() == 0


def test_simhash_zero_prefix_blocks_all_pairs(spark):
    """prefix_bits=0 = no blocking: distance 1-3 pairs must be found
    (shiftrightunsigned(sim, 64) is the identity, not zero)."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id long, text string",
    )
    out = D.simhash_pairs(df, max_hamming=20, prefix_bits=0).collect()
    assert len(out) == 1 and out[0].hamming > 0


def test_dedup_groups_transitive(spark):
    """A-B and B-C pairs put A,B,C in ONE group labeled min(id);
    unpaired docs label themselves."""
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 9]], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.group_id for r in D.dedup_groups(docs, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 9}


def test_dedup_groups_numeric_min_not_string_min(spark):
    """Group label is the NUMERIC min (2), not the string min ('10')."""
    docs = spark.createDataFrame([(2,), (10,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 10)], "id_a long, id_b long")
    out = {r.doc_id: r.group_id for r in D.dedup_groups(docs, pairs).collect()}
    assert out == {2: 2, 10: 2}


def test_dedup_groups_long_chain_converges(spark):
    """A 26-node chain (diameter > min-label's 20-iteration budget) must
    still resolve to ONE group — star CC is diameter-independent."""
    docs = spark.createDataFrame([(i,) for i in range(26)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.group_id for r in D.dedup_groups(docs, pairs).collect()}
    assert out == {i: 0 for i in range(26)}


def test_dedup_groups_negative_ids(spark):
    docs = spark.createDataFrame([(-5,), (3,), (7,)], "doc_id long")
    pairs = spark.createDataFrame([(-5, 3)], "id_a long, id_b long")
    out = {r.doc_id: r.group_id for r in D.dedup_groups(docs, pairs).collect()}
    assert out == {-5: -5, 3: -5, 7: 7}


def test_embedding_dup_pairs_tolerates_null_and_ragged(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, None),
            (4, [1.0, 0.0, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in D.embedding_dup_pairs(df, 0.99).collect()}
    assert pairs == {(1, 2)}


def test_duplicate_ngram_spans_known_corpus(spark):
    """Two docs share one 6-token substring; with n=4 the duplicated
    4-gram positions form a single island per doc covering exactly the
    shared substring. A third doc with no repeats yields no spans."""
    shared = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} zeta eta theta iota"),
            (3, "completely unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: r
        for r in D.duplicate_ngram_spans(docs, n=4).collect()
    }
    assert set(spans) == {1, 2}
    # doc 1: shared substring spans tokens 2..7 (0-based)
    assert (spans[1].span_start, spans[1].span_end) == (2, 7)
    assert spans[1].span_tokens == 6
    assert spans[1].n_dup_ngrams == 3  # 6 tokens -> 3 four-grams
    # doc 2: shared substring at the head, tokens 0..5
    assert (spans[2].span_start, spans[2].span_end) == (0, 5)
    assert spans[2].span_tokens == 6


def test_duplicate_ngram_spans_within_doc_repeat(spark):
    """A doc repeating its own phrase is self-duplicated: both
    occurrences come back as separate spans of the same length."""
    docs = spark.createDataFrame(
        [(7, "one two three four END one two three four")],
        "doc_id long, text string",
    )
    spans = D.duplicate_ngram_spans(docs, n=4).collect()
    assert len(spans) == 2
    assert sorted((s.span_start, s.span_end) for s in spans) == [
        (0, 3),
        (5, 8),
    ]


def test_containment_vs_jaccard_asymmetry(spark):
    """A short doc quoted verbatim inside a long one: containment is
    1.0 while Jaccard stays below the usual near-dup thresholds."""
    quote = "to be or not to be that is the question"
    filler = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")],
        "doc_id long, text string",
    )
    cont = D.containment_pairs(docs, threshold=0.5).collect()
    assert len(cont) == 1
    assert cont[0].id_a == 1 and cont[0].id_b == 2
    assert cont[0].containment == 1.0
    jac = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []


def test_decontaminate_planted_overlap(spark):
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    clean = "one two three four five six seven eight nine ten eleven"
    # doc 1 quotes an 8-gram from the benchmark (tokens 1..8 and 2..9 =>
    # two distinct shared 8-grams); doc 2 shares nothing.
    contaminated = "XX " + bench_text + " YY"
    corpus = spark.createDataFrame(
        [(1, contaminated), (2, clean)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {r.doc_id: r.n_hit_ngrams for r in D.decontaminate(corpus, bench).collect()}
    assert got == {1: 2}


def test_chunk_dedup_rewrite_cuts_planted_copies(spark):
    """A doc repeating another doc's chunk loses exactly that chunk; the
    first occurrence (lowest doc_id, chunk_idx) survives; unique docs
    are untouched."""
    a = " ".join(f"a{i}" for i in range(20))      # chunk A
    b = " ".join(f"b{i}" for i in range(20))      # chunk B
    c = " ".join(f"c{i}" for i in range(20))      # chunk C
    df = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{a} {c}"), (3, c)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.chunk_dedup_rewrite(df, 20).collect()}
    assert out[1].n_chunks == 2 and out[1].n_removed == 0
    # doc 2 repeats chunk A (first seen in doc 1) -> removed
    assert out[2].n_chunks == 2 and out[2].n_removed == 1
    # doc 3's chunk C already appeared in doc 2 -> fully removed
    assert out[3].n_chunks == 1 and out[3].n_removed == 1
    import hashlib

    assert out[3].cleaned_md5 == hashlib.md5(b"").hexdigest()
    assert out[2].cleaned_md5 == hashlib.md5(c.encode()).hexdigest()


def test_chunk_dedup_rewrite_properties(spark):
    """Invariants: chunk totals are conserved (sum n_chunks ==
    ceil(tokens/20) per doc), a duplicate-free corpus loses nothing, and
    n_removed never exceeds n_chunks."""
    import math
    import random

    rng = random.Random(3)
    rows = []
    for i in range(30):
        n_tok = rng.randint(1, 65)
        # globally unique tokens => no two chunks can collide
        rows.append((i, " ".join(f"t{i}_{j}" for j in range(n_tok))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.chunk_dedup_rewrite(df, 20).collect()}
    assert set(out) == set(range(30))
    for i, text in rows:
        expect = math.ceil(len(text.split()) / 20)
        assert out[i].n_chunks == expect, (i, out[i].n_chunks, expect)
        assert out[i].n_removed == 0
        assert 0 <= out[i].n_removed <= out[i].n_chunks


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """Two docs with IDENTICAL shingle sets but different token mixes
    (so different classifier logits): keep-best must pick the
    higher-logit doc even though it has the LARGER id (min-id would
    pick the other). The l26-style corpus doubling adds relabeled
    copies; ties between a doc and its copy resolve to the smaller id."""
    import hashlib

    import ekati_spark.queries as Q
    from ekati_spark.operators.text import CLASSIFIER_DIM, _W_MULT, _W_OFFSET

    def milli(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return ((h % CLASSIFIER_DIM) * _W_MULT + _W_OFFSET) % 2001 - 1000

    # choose two tokens with distinct weights; hi = the heavier one
    a, b = "zebra", "quark"
    if milli(a) == milli(b):
        b = "gluon"
    hi, lo = (a, b) if milli(a) > milli(b) else (b, a)
    # "x y x y x" and "y x y x y" share the shingle set {xyx, yxy}
    rows = [
        (1, f"{hi} {lo} {hi} {lo} {hi}"),   # lo-heavy? no: hi×3 lo×2
        (2, f"{lo} {hi} {lo} {hi} {lo}"),   # lo×3 hi×2 -> lower logit
    ]
    # make doc 1 the LOW-quality one so the winner (doc 2) has larger id
    rows = [(1, rows[1][1]), (2, rows[0][1])]
    import tempfile

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {
            r.kept_doc_id: r.n_docs
            for r in Q.REGISTRY["l50_dedup_keep_best"].fn(spark, d).collect()
        }
    # corpus doubling: group = {1, 2, 100001, 100002}; argmax logit is
    # doc 2 (and its copy 100002 ties -> min id wins)
    assert got == {2: 4}


def test_lsh_recall_audit_planted_regime(docs_with_dups):
    """On the planted-dup corpus the audit's top decile (the exact and
    lightly-edited copies) must be fully caught, and every bucket's
    counts must be internally consistent (0 ≤ caught ≤ pairs,
    recall = caught/pairs to 6 decimals)."""
    from ekati_spark.operators.dedup import lsh_recall_audit

    rows = lsh_recall_audit(
        docs_with_dups, threshold=0.0, num_hashes=64, bands=32
    ).collect()
    by_bucket = {r.j_bucket: r for r in rows}
    assert 9 in by_bucket, "planted near-identical pairs must populate decile 9"
    assert by_bucket[9].recall == 1.0
    import math

    for r in rows:
        assert 0 <= r.n_caught <= r.n_pairs
        assert r.recall == math.floor(r.n_caught / r.n_pairs * 1e6 + 0.5) / 1e6
        assert 0.0 <= r.predicted <= 1.0


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """The CDC property fixed-width chunking lacks: inserting one token
    at the head changes only a bounded PREFIX of chunk hashes — the
    tail re-synchronizes because boundaries depend only on the local
    4-gram. With fixed-width chunks every post-insertion chunk hash
    would differ."""
    from pyspark.sql import functions as F

    from ekati_spark.operators.dedup import cdc_chunk_table

    base = " ".join(f"tok{i % 97}x{i % 13}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, base), (2, "INSERTED " + base)], "doc_id long, text string"
    )
    ch = cdc_chunk_table(docs, gram=4, mod=8).cache()
    h1 = {r["chash"] for r in ch.filter("id = 1").collect()}
    h2 = {r["chash"] for r in ch.filter("id = 2").collect()}
    shared = len(h1 & h2)
    # nearly all chunks survive the insertion: only the head chunk(s)
    # before the first post-insertion boundary can change
    assert shared >= len(h1) - 3, (len(h1), len(h2), shared)
    assert shared < len(h2)  # the perturbed head chunk did change

    # boundaries are content-local: average chunk length ~ mod tokens
    stats = ch.filter("id = 1").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("t")
    ).first()
    assert 3 <= stats["t"] / stats["n"] <= 24


def test_minhash_collapse_exact_is_output_identical(spark, sf_dir):
    """The exact-dup collapse pre-pass (digest groups -> LSH on unique
    texts -> pair expansion) must be row-for-row identical to the
    uncollapsed run, including on a corpus WITH byte-identical
    replicas and token-less docs (which must pair in neither mode)."""
    from pyspark.sql import functions as F

    from ekati_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    # plant: 2 replicas of one doc, and 3 byte-identical token-less docs
    base = docs.limit(1).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    base2 = base.select(
        (F.col("doc_id") + 1).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    tiny = spark.createDataFrame(
        [(910000 + i, "one two", "en", "s", 7) for i in range(3)],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    corpus = docs.unionByName(base).unionByName(base2).unionByName(tiny)
    kw = dict(threshold=0.1, num_hashes=64, bands=32)
    plain = sorted(
        map(tuple, D.minhash_lsh_pairs(corpus, collapse_exact=False, **kw).collect())
    )
    fast = sorted(
        map(tuple, D.minhash_lsh_pairs(corpus, collapse_exact=True, **kw).collect())
    )
    assert plain == fast
    # the planted replica pair is present at jaccard exactly 1.0
    assert any(p[0] == 900001 or p[1] == 900001 for p in fast)
    # token-less replicas never pair (no shingles in either mode)
    assert not any(p[0] >= 910000 for p in fast)
    # auto (default None): the dup-ratio probe picks a branch, and
    # whichever it picks the output is still row-for-row identical
    auto = sorted(
        map(tuple, D.minhash_lsh_pairs(corpus, **kw).collect())
    )
    assert auto == plain
    # a 4x-replicated corpus must trip the <0.90-unique probe: assert
    # branch choice indirectly via equality on a corpus where a wrong
    # expansion would differ — and directly on the probe arithmetic
    heavy = corpus.unionByName(
        corpus.select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text", "lang",
            "source", "n_chars",
        )
    )
    n, nd = heavy.agg(
        F.count(F.lit(1)),
        F.approx_count_distinct(F.xxhash64(F.col("text"))),
    ).first()
    assert nd / n < 0.90  # probe says collapse on the replicated corpus
    heavy_auto = sorted(
        map(tuple, D.minhash_lsh_pairs(heavy, **kw).collect())
    )
    heavy_plain = sorted(
        map(
            tuple,
            D.minhash_lsh_pairs(heavy, collapse_exact=False, **kw).collect(),
        )
    )
    assert heavy_auto == heavy_plain


def test_signature_store_gc_drops_deleted_docs(spark):
    """l92's contract at unit level: after the GC rewrite, no pair may
    touch a deleted doc, and surviving pairs equal the from-scratch
    pipeline on survivors."""
    from ekati_spark.queries import REGISTRY

    pairs = REGISTRY["l92_signature_store_gc"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(
        r["id_a"] % 7 != 3 and r["id_b"] % 7 != 3 for r in pairs
    )
    survivors = D.minhash_lsh_pairs(
        load_table(spark, "/root/testdata/sf0.001", "documents").filter(
            "doc_id % 7 != 3"
        ),
        threshold=0.1,
        num_hashes=64,
        bands=32,
        collapse_exact=False,
    ).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, survivors))


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short quote inside a long page: containment ~1.0 in the
    quote->page direction while Jaccard stays tiny — the pair l109's
    asymmetric threshold keeps and a Jaccard>=0.5 rule drops."""
    import random

    from ekati_spark.queries.llm import l109_shingle_containment_pairs  # noqa: F401
    from ekati_spark.operators.dedup import ngram_jaccard_pairs, shingle_rows
    from pyspark.sql import functions as F

    rng = random.Random(7)
    quote = " ".join(f"q{i}" for i in range(12))
    page = " ".join(
        [" ".join(f"p{rng.randint(0,10**9)}" for _ in range(120)), quote]
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, page)], "doc_id long, text string"
    )
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, 0.0, n=5).collect()
    }
    assert jac[(1, 2)] < 0.2  # Jaccard misses the excerpt
    rows = shingle_rows(docs, 5)
    sz = {r["id"]: r["sz"] for r in rows.groupBy("id").agg(
        F.count("*").alias("sz")).collect()}
    shared = (
        rows.filter("id = 1").select("g")
        .join(rows.filter("id = 2").select("g"), "g").count()
    )
    assert (1000000 * shared) // sz[1] >= 900000  # containment sees it


def test_image_hamming_banding_guarantee(spark):
    """Any pair within hamming <= 3 of a 64-bit hash split into 4
    16-bit bands MUST share an intact band (pigeonhole) — the l110
    candidate generator cannot miss such a pair."""
    import itertools
    import random

    rng = random.Random(11)
    for _ in range(200):
        h = rng.getrandbits(64)
        flips = rng.sample(range(64), rng.randint(1, 3))
        h2 = h
        for f in flips:
            h2 ^= 1 << f
        bands = lambda x: [(i, (x >> (16 * i)) & 0xFFFF) for i in range(4)]
        assert set(bands(h)) & set(bands(h2))


def test_suffix_window_spans_exact_lengths(spark):
    """Planted corpus with a known longest shared substring: docs A and
    B share exactly tokens 'd5..d12' (8 tokens) at known positions;
    doc C shares nothing >= 4. min_len=4 flags A and B with the exact
    measured length, never C."""
    shared = " ".join(f"d{i}" for i in range(5, 13))  # 8 tokens
    rows = [
        (1, f"a0 a1 a2 {shared} a3 a4"),          # shared at pos 3..10
        (2, f"b0 {shared} b1 b2 b3 b4 b5"),       # shared at pos 1..8
        (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),     # unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in D.suffix_window_spans(docs, cap=32, min_len=4).collect()
    }
    assert set(out) == {1, 2}
    assert out[1].max_dup_len == 8 and out[1].span_start == 3
    assert out[1].span_end == 10
    assert out[2].max_dup_len == 8 and out[2].span_start == 1
    # every suffix opening >= 4 shared tokens: positions 3..7 in doc 1
    assert out[1].n_dup_suffixes == 5
    assert out[2].n_dup_suffixes == 5


def test_suffix_window_spans_cap_and_within_doc(spark):
    """A 40-token run duplicated WITHIN one document reports the cap
    (32), and the span starts at the first qualifying position."""
    run = " ".join(f"t{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(7, f"{run} sep {run}")], "doc_id long, text string"
    )
    out = D.suffix_window_spans(docs, cap=32, min_len=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r.doc_id == 7 and r.max_dup_len == 32 and r.span_start == 0
