"""Deduplication operators for training-data pipelines.

Seven strategies plus group resolution, all fully distributed (no
driver-side pair loops):

- ``exact_dedup``            hash-groupBy on a normalized text digest
- ``ngram_jaccard_pairs``    exact n-gram Jaccard via shingle inverted-
                             index self-join (explode+window shingles)
- ``minhash_lsh_pairs``      MinHash + banded LSH: candidate pairs meet in
                             band buckets (shuffle on band hash), then are
                             verified with exact Jaccard — the 100 TB path,
                             cost ∝ candidates, not ∝ n².
- ``simhash64`` (Pandas UDF) 64-bit SimHash for hamming-distance dedup
                             (measured fastest; benchmark in docstring)
- ``embedding_dup_pairs``    cosine near-duplicates: block-grid triangle
                             partitioning + one vectorized Arrow UDF per
                             cell (bit-identical to the SQL left-fold)
- ``dedup_groups``           pair edges → transitive clusters (star CC)
                             → min-id group labels, strategy-agnostic

(Fuzzy Levenshtein pairs live in the query layer — l17 — since both
engines share the classic definition.)

Determinism: every hash is a fixed-seed arithmetic function of
``xxhash64`` (Spark's deterministic 64-bit hash); no RNG at runtime.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as _W, functions as F, types as T

from ekati_spark.checkpoint import cut_lineage
from ekati_spark.session_store import get_or_build

MERSENNE_31 = (1 << 31) - 1


def normalized(text: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per identical (normalized) text; report group
    size. One hash-shuffle on the digest — the canonical exact dedup."""
    return (
        docs.select(
            F.col(id_col), F.md5(normalized(F.col(text_col))).alias("digest")
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of the lowercased text.

    Documents with fewer than ``n`` tokens yield an empty array —
    ``sequence(1, 0)`` would DESCEND ([1, 0]) and the out-of-range
    ``element_at`` aborts the job under Spark's default ANSI mode."""
    toks = F.split(F.trim(F.lower(text)), " +")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (id_a < id_b).

    Shingle-inverted-index self-join: pairs only meet where they share a
    shingle, so cost is ∝ Σ bucket², not n² — rare shingles keep buckets
    small; a stopword-shingle cap would bound hot buckets at 100 TB.

    Shingle rows come from the explode+window shape, not the
    ``shingles()`` array: exploding the interpreted ``transform`` makes
    the generator's inferred pre-filters (size>0, isnotnull) re-evaluate
    the whole lambda per row — with the tokenizing ``split`` re-run for
    every ``element_at`` — measured ~25x slower than the window form.
    """
    rows = shingle_rows(
        docs, n, text_col, id_col, widen=False
    ).transform(cut_lineage)
    sz = rows.groupBy("id").agg(F.count("*").alias("sz"))
    ex = rows.join(sz, "id")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_perm(h: Column, seed: int) -> Column:
    """One MinHash permutation: affine map of the base hash mod 2^31-1.
    Coefficients derive from the seed via fixed odd multipliers."""
    a = (2 * seed + 1) * 0x9E3779B1 % MERSENNE_31
    b = (seed * 0x85EBCA77 + 0xC2B2AE3D) % MERSENNE_31
    return (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_31)


def widen_narrow_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition to core count when the frame's physical plan
    yields fewer partitions than ``defaultParallelism`` — the
    one-small-parquet-file case, where every CPU-dense codegen map
    above the scan (tokenize/shingle/md5) would otherwise run on one
    core. A no-op whenever the scan is already core-wide (any
    real-scale table), so the exchange exists only where it is
    trivially cheap. Hash on ``key_col`` (not round-robin)
    deliberately: a downstream distinct/groupBy keyed on a superset of
    it reuses THIS exchange (HashPartitioning(k) satisfies
    ClusteredDistribution(k, ...)), so the widen replaces the
    ENSURE_REQUIREMENTS exchange — whose AQE-coalesced task count
    tracks byte size, blind to per-row CPU — instead of adding one;
    and hash avoids round-robin's sort-before-repartition pass. The
    partition probe (JVM-side ``_jdf.rdd()``, no Python serializer
    wrapper) runs no job, and its planning cost is paid once per
    (session, semantic plan) in ``session_store``: planning on every
    build through ~10 builders was a measured driver cost (round-15
    verdict item 7). Inputs are immutable per session here; a conf
    change that would re-split the scan (maxPartitionBytes)
    invalidates nothing we cache across, since defaultParallelism and
    the file set are session-constant."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    n = get_or_build(
        spark,
        ("scan_width", df.semanticHash()),
        None,
        lambda: df._jdf.rdd().getNumPartitions(),
    )
    if n >= par:
        return df
    return df.repartition(par, F.col(key_col))


def shingle_rows(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
    widen: bool = True,
) -> DataFrame:
    """Distinct word-n-gram shingles, exploded: ``(id, g)`` string rows.

    Built shuffle-free: split -> n aligned ``slice`` views ->
    ``arrays_zip`` -> explode -> concat. slice/arrays_zip are codegen
    expressions (NOT interpreted ``transform`` lambdas — the HOF trap
    this module documents), so gram formation is a single
    whole-stage-codegen map over the scan; the only shuffle is the
    distinct — or, on a narrower-than-core-count scan, the single
    ``widen_narrow_scan`` exchange on ``id`` that the distinct and any
    downstream per-id aggregation then reuse. This replaced a posexplode -> window ``lead`` -> concat
    formulation whose partitionBy(id) shuffle+sort dominated the cold
    path (measured 3.4 s -> 1.2 s for the sf0.1 shingle table; row-set
    parity is exact, including NULL/short/empty docs). Set semantics
    (distinct) match ``shingles``'s ``array_distinct``; docs with fewer
    than ``n`` tokens yield no rows (slice length clamps to 0).
    """
    if widen:
        docs = widen_narrow_scan(docs, id_col)
    a = F.split(F.trim(F.lower(F.col(text_col))), " +")
    # slice() raises on negative length — clamp; NULL text gives a NULL
    # zip (explode emits nothing), same as the old posexplode path.
    length = F.greatest(F.size(a) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(a, 1 + k, length) for k in range(n)])
    out = docs.select(
        F.col(id_col).alias("id"), F.explode(z).alias("z")
    ).select(
        "id",
        F.concat_ws(" ", *[F.col("z")[str(k)] for k in range(n)]).alias(
            "g"
        ),
    )
    # distinct=False keeps every occurrence (the novelty-curve totals);
    # default set semantics match ``shingles``'s array_distinct.
    return out.distinct() if distinct else out


def multi_width_shingle_rows(
    docs: DataFrame,
    widths: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word-n-gram shingles at SEVERAL widths from ONE scan:
    ``(id, n, g)`` rows — the fused form of running ``shingle_rows``
    once per width (a 100 TB corpus shouldn't be tokenized and shingled
    twice to audit two gram widths, the l131 shape).

    Construction: one split, ``max(widths)`` aligned slice views all
    sized to the SMALLEST width's position count (so arrays_zip pads
    the tail slices with NULL), one explode — then each width w's gram
    is emitted only where its last token (zip field w-1) is non-NULL,
    i.e. exactly at positions with w tokens ahead. Everything is
    codegen expressions (slice/arrays_zip/concat_ws — no interpreted
    transform lambdas), the per-position width fan-out is a literal
    array of structs, and the only shuffle is the distinct. Row-set per
    width is EXACTLY ``shingle_rows(docs, w)`` (pinned in pytest).
    """
    docs = widen_narrow_scan(docs, id_col)
    ws = sorted(set(widths))
    wmin, wmax = ws[0], ws[-1]
    a = F.split(F.trim(F.lower(F.col(text_col))), " +")
    length = F.greatest(F.size(a) - (wmin - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(a, 1 + k, length) for k in range(wmax)])
    row = docs.select(F.col(id_col).alias("id"), F.explode(z).alias("z"))
    grams = [
        F.struct(
            F.lit(w).cast("int").alias("n"),
            F.when(
                F.col("z")[str(w - 1)].isNotNull(),
                F.concat_ws(" ", *[F.col("z")[str(k)] for k in range(w)]),
            ).alias("g"),
        )
        for w in ws
    ]
    return (
        row.select("id", F.explode(F.array(*grams)).alias("s"))
        .select("id", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )


def shingle_hash_rows(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct hashed word-n-gram shingles, exploded: ``(id, h)`` with
    ``h = (first 60 md5 bits) mod 2^31-1``. See ``shingle_rows``.

    md5 (not xxhash64) deliberately: both engines compute it, which is
    what lets the l03 oracle replay MinHash signatures exactly —
    ``('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647`` in DuckDB
    is bit-identical to this column. Still whole-stage codegen; the
    shingle table is materialized once per pipeline, so the md5-vs-xxhash
    delta is a single scan-stage cost (measured 0.31 s vs 0.20 s over
    the full sf0.1 shingle table, ~5% of l03 wall-clock — buying full
    hash-attestation of the flagship dedup path)."""
    return shingle_rows(docs, n, text_col, id_col).select(
        "id",
        (
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
            % F.lit(MERSENNE_31)
        ).alias("h"),
    )


def _signatures_from_rows(sh_rows: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signature per id from exploded shingle hashes: k plain
    ``min`` aggregates (whole-stage codegen + map-side partial agg; the
    shuffle carries one k-wide row per doc per partition — the 100 TB
    shape). Nested HOF formulations (array_min over transform) are
    interpreted and were 10-30x slower.

    Also emits ``sz`` (distinct-shingle count) — free in the same
    aggregation pass, and needed by the LSH verification step (computing
    it separately would re-aggregate the full shingle table)."""
    mins = [
        F.min(_minhash_perm(F.col("h"), j)).alias(f"m{j}")
        for j in range(num_hashes)
    ]
    return (
        sh_rows.groupBy("id")
        .agg(*mins, F.count("*").alias("sz"))
        .select(
            "id",
            F.array(*[f"m{j}" for j in range(num_hashes)]).alias("signature"),
            "sz",
        )
    )


def minhash_band_candidates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The LSH candidate stage of ``minhash_lsh_pairs``, exposed for the
    recall audit (l55): returns ``(candidates, shingle_rows)`` where
    candidates = (id_a, id_b, sz_a, sz_b) pairs sharing ≥ 1 band hash
    (id_a < id_b) and shingle_rows is the eagerly-checkpointed hashed
    shingle table both stages consume."""
    sh_rows = shingle_hash_rows(
        docs, shingle_n, text_col, id_col
    ).transform(cut_lineage)
    sigs = _signatures_from_rows(sh_rows, num_hashes)
    return band_candidates_from_signatures(sigs, num_hashes, bands), sh_rows


def band_candidates_from_signatures(
    sigs: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """LSH band join over an EXISTING signature table ``(id, signature,
    sz)`` — in memory or read back from a persisted parquet signature
    store (the 100 TB practice: signatures are computed once per
    snapshot and materialized; every dedup run after that starts
    here). Returns (id_a, id_b, sz_a, sz_b) candidates, id_a < id_b."""
    rows = num_hashes // bands
    banded = sigs.select(
        "id",
        "sz",
        F.posexplode(
            # one transform over a band-index sequence (tiny per-row
            # arrays; fine interpreted); xxhash64 hashes the slice
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("signature", b * rows + 1, rows)),
            )
        ).alias("band", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact verification.

    Signature is split into ``bands`` bands of ``num_hashes//bands`` rows;
    docs sharing any band hash become candidates (shuffle on the band
    hash), then candidates are verified with exact shingle Jaccard over
    the hashed-shingle rows (set-join + count, no array ops). With
    r=4, b=16 the S-curve crosses ~0.5 — tune (bands, num_hashes) per
    threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Shingle rows are consumed 3x (signatures + both sides of the
    verification join) — materialized once (at 100 TB: a persisted
    shingle table; locally: localCheckpoint). Doc shingle counts ride
    along from the signature aggregation through the band join, so
    verification needs no extra aggregation or size joins.

    ``collapse_exact`` runs the standard production pre-pass:
    byte-identical texts (raw-md5 digest groups) collapse to one
    representative BEFORE shingling, and member pairs are expanded
    back afterwards — within-group pairs carry Jaccard exactly 1.0
    (identical shingle SETS), cross-group pairs inherit their
    representatives' verified Jaccard (identical sets ⇒ identical
    n_shared/sz ⇒ identical rounded value), so the output is
    row-for-row IDENTICAL to the uncollapsed run (the l03 oracle and
    ``test_dedup`` equality assert it) while shingling, signatures,
    banding, and verification all run on unique texts only. On
    duplicate-heavy corpora this is the dominant cost lever (sf1 10×
    replication: 20.3 s → the unique-text core is 10× smaller); at
    100 TB exact-dedup-before-MinHash is how every production pipeline
    orders the passes. Default ``None`` = auto: a one-pass probe
    (count + approx_count_distinct of the text digest — map-side
    partials only, no shuffle of text bytes) collapses only when <90%
    of texts are unique, so dup-free corpora skip the window + member
    expansion joins (~1 s at sf0.1) while replicated ones keep the 5×
    win. The HLL estimate's ±2–5% error is far from the 0.90 cut on
    either side (dup-free ≈1.0; a corpus worth collapsing ≲0.8), so
    the decision is stable; both branches remain bit-identical anyway.
    """
    if collapse_exact is None:
        # Probe hash is xxhash64 (fast, 64-bit is plenty for a RATIO
        # estimate); the collapse grouping key below stays md5 — at
        # 10B+ docs a 64-bit key would birthday-collide and merge
        # distinct texts, which the 128-bit key cannot.
        n_total, n_uniq = docs.agg(
            F.count(F.lit(1)),
            F.approx_count_distinct(F.xxhash64(F.col(text_col))),
        ).first()
        collapse_exact = bool(n_total) and n_uniq / n_total < 0.90
    if collapse_exact:
        groups = docs.select(
            F.col(id_col).alias("mid"),
            F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit("")))
            .alias("digest"),
        ).withColumn(
            "rep", F.min("mid").over(_W.partitionBy("digest"))
        ).transform(cut_lineage)  # members consumed by 3 expansions
        reps = docs.join(
            groups.filter(F.col("mid") == F.col("rep")).select(
                F.col("mid").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        cand, sh_rows = minhash_band_candidates(
            reps, num_hashes, bands, shingle_n, text_col, id_col
        )
        rep_pairs = verify_candidate_pairs(cand, sh_rows, threshold)
        members = groups.select("rep", "mid")
        cross = (
            rep_pairs.withColumnRenamed("id_a", "rep_a")
            .withColumnRenamed("id_b", "rep_b")
            .join(
                members.select(
                    F.col("rep").alias("rep_a"), F.col("mid").alias("ma")
                ),
                "rep_a",
            )
            .join(
                members.select(
                    F.col("rep").alias("rep_b"), F.col("mid").alias("mb")
                ),
                "rep_b",
            )
            .select(
                F.least("ma", "mb").alias("id_a"),
                F.greatest("ma", "mb").alias("id_b"),
                "jaccard",
            )
        )
        # within-group pairs: identical shingle sets ⇒ jaccard exactly
        # 1.0 — but ONLY for docs that produce ≥1 shingle (token-less
        # docs never reach the signature table and must not pair here
        # either): gate on the representative having shingle rows.
        shingled = sh_rows.select(F.col("id").alias("rep")).distinct()
        m = members.join(shingled, "rep", "left_semi")
        a, b = m.alias("wa"), m.alias("wb")
        within = (
            a.join(
                b,
                (F.col("wa.rep") == F.col("wb.rep"))
                & (F.col("wa.mid") < F.col("wb.mid")),
            )
            .select(
                F.col("wa.mid").alias("id_a"),
                F.col("wb.mid").alias("id_b"),
                (F.floor(F.lit(1.0) * 1000000 + F.lit(0.5)) / 1000000)
                .alias("jaccard"),
            )
            .filter(F.lit(float(threshold)) <= 1.0)
        )
        return cross.unionByName(within)
    cand, sh_rows = minhash_band_candidates(
        docs, num_hashes, bands, shingle_n, text_col, id_col
    )
    return verify_candidate_pairs(cand, sh_rows, threshold)


def verify_candidate_pairs(
    cand: DataFrame, sh_rows: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates against the hashed
    shingle table (set-join + count; floor-based 6-decimal rounding —
    the l03 oracle contract). Shared by the inline and
    persisted-signature paths."""
    shared = (
        cand.join(
            sh_rows.select(F.col("id").alias("id_a"), "h"), "id_a"
        )
        .join(sh_rows.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    # floor(x*1e6 + 0.5), not round(x, 6): jaccards with power-of-two
    # denominators (1/128 = 0.0078125) land exactly on the 6th-decimal
    # half boundary where engine round() tie policies diverge (Spark
    # HALF_UP, DuckDB half-even); the floor form is the same IEEE op
    # sequence on both sides of the l03 oracle.
    jac6 = F.floor(jac * 1000000 + F.lit(0.5)) / 1000000
    return (
        shared.withColumn("jaccard", jac6)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_recall_audit(
    docs: DataFrame,
    threshold: float = 0.05,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Empirical recall audit of the banded-LSH candidate generator
    against exact all-pairs Jaccard, per similarity decile — the
    S-curve, measured instead of assumed.

    For every exact-Jaccard pair ≥ ``threshold`` (inverted-index
    all-pairs — run this on a bounded subset), checks whether the
    MinHash band join would have surfaced it, and reports per Jaccard
    decile: pair count, caught count, observed recall, and the
    theoretical collision probability 1-(1-s^r)^b at the decile
    midpoint. Observed < predicted by more than sampling noise means
    the signature or banding is broken; the production parameters
    (l03: 64 hashes × 32 bands) are audited as-is.

    Determinism: recall is one double division; the prediction is an
    explicit left-associated multiplication chain (no ``pow`` — libm
    implementations diverge across engines), so every float op
    replays bit-identically in the oracle."""
    exact = ngram_jaccard_pairs(docs, threshold, shingle_n)
    cand, _ = minhash_band_candidates(docs, num_hashes, bands, shingle_n)
    flagged = exact.join(
        cand.select("id_a", "id_b", F.lit(1).alias("caught")),
        ["id_a", "id_b"],
        "left",
    )
    agg = (
        flagged.withColumn(
            "j_bucket",
            F.least(
                F.floor(F.col("jaccard") * 10), F.lit(9).cast("bigint")
            ).cast("int"),
        )
        .groupBy("j_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.coalesce("caught", F.lit(0))).alias("n_caught"),
        )
    )
    rows = num_hashes // bands
    s = (F.col("j_bucket").cast("double") + F.lit(0.5)) / F.lit(10.0)
    sr = s
    for _ in range(rows - 1):
        sr = sr * s
    t = F.lit(1.0) - sr
    tb = t
    for _ in range(bands - 1):
        tb = tb * t
    floor6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return agg.select(
        "j_bucket",
        "n_pairs",
        "n_caught",
        floor6(
            F.col("n_caught").cast("double") / F.col("n_pairs").cast("double")
        ).alias("recall"),
        floor6(F.lit(1.0) - tb).alias("predicted"),
    )


def winnow_recall_audit(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Empirical recall audit of the winnowing pair finder (l101's
    production parameters: k-gram hashes, w-window, pairs sharing ≥
    ``min_shared`` fingerprints) against exact all-pairs k-gram
    Jaccard, per similarity decile — the l55 LSH-audit methodology
    applied to the MOSS fingerprints.

    Winnowing's guarantee is run-based (any shared token run of ≥
    w+k−1 yields a shared fingerprint), NOT Jaccard-based, so unlike
    the LSH audit there is no closed-form predicted curve; the report
    shows the empirically achieved recall per exact-Jaccard decile —
    low deciles are expected to be largely un-caught (pairs sharing
    scattered grams but no run, exactly the join volume winnowing
    saves), high deciles must approach 1. Exact side is the bounded
    inverted-index all-pairs join (run on a sample at 100 TB; recall
    is a per-decile ratio, unbiased under pair subsampling)."""
    exact = ngram_jaccard_pairs(docs, 0.0, n=k)
    fp = winnow_fingerprints(docs, k=k, w=w)
    a = fp.select(F.col("id").alias("id_a"), "fph")
    b = fp.select(F.col("id").alias("id_b"), F.col("fph").alias("fph_b"))
    cand = (
        a.join(
            b,
            (F.col("fph") == F.col("fph_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_fp"))
        .filter(F.col("n_fp") >= min_shared)
        .select("id_a", "id_b", F.lit(1).alias("caught"))
    )
    return decile_recall_report(exact.join(cand, ["id_a", "id_b"], "left"))


def decile_recall_report(flagged: DataFrame) -> DataFrame:
    """Shared tail of the recall audits (l55-family): given exact
    pairs left-joined with a ``caught`` marker column and a
    ``jaccard`` score, aggregate per similarity decile (capped at
    bucket 9) the pair count, caught count, and recall rounded
    half-up at 6 decimals via the engine-portable ``floor(x·1e6+0.5)``
    form (NOT ``round``: engine tie policies differ)."""
    floor6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        flagged.withColumn(
            "j_bucket",
            F.least(
                F.floor(F.col("jaccard") * 10), F.lit(9).cast("bigint")
            ).cast("int"),
        )
        .groupBy("j_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.coalesce("caught", F.lit(0))).alias("n_caught"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "n_caught",
            floor6(
                F.col("n_caught").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("recall"),
        )
    )


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup PAIRS into GROUPS: every doc gets a ``group_id``
    = the smallest doc id in its transitive near-dup cluster (connected
    component of the pair graph); docs in no pair are their own group.
    This is the end-product of corpus dedup — "keep one doc per group".

    ``pairs`` must have columns (id_a, id_b) — output of any of the pair
    finders (ngram_jaccard_pairs, minhash_lsh_pairs, simhash_pairs,
    embedding_dup_pairs), so the grouping is strategy-agnostic.

    Implementation: alternating large-star/small-star components
    (graph.algorithms.connected_components_star — O(log² n) rounds
    regardless of cluster diameter; min-label propagation stalls at
    max_iter on chain-shaped clusters, the canonical near-dup shape)
    over the pair edges only — at 100 TB the iteration touches the
    (tiny) dup subgraph, never the full corpus; the corpus joins in
    once at the end to label singletons. Ids ride through the
    string-keyed CC kernel as bias-encoded fixed-width decimals
    (id + 2^63, zero-padded) so string order == numeric order for the
    FULL long range including negatives (plain zero-padding would both
    abort the cast on '-' and sort negatives wrongly).
    """
    from ekati_spark.graph.algorithms import connected_components_star

    dec = "decimal(20,0)"
    # 2^63 exceeds the py4j long protocol — ship the bias as a string
    bias = F.lit(str(1 << 63)).cast(dec)

    def pad(c: str) -> Column:
        biased = (F.col(c).cast(dec) + bias).cast(dec)
        return F.lpad(biased.cast("string"), 20, "0")

    def unpad(c: str) -> Column:
        return (F.col(c).cast(dec) - bias).cast("long")

    # materialize the pair edges ONCE: the CC kernel consumes its edge
    # plan twice (undirected closure + node seed), which would re-run
    # the full pair-finding pipeline (shingle joins) each time
    edges = pairs.select(
        pad("id_a").alias("src"), pad("id_b").alias("dst")
    ).transform(cut_lineage)
    comp = connected_components_star(edges).select(
        unpad("node_id").alias(id_col),
        unpad("component").alias("__grp"),
    )
    return docs.select(id_col).join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce("__grp", F.col(id_col)).alias("group_id"),
    )


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-batched Pandas UDF)
    — the MEASURED-fastest formulation and the production path.

    The round-3 review flagged the per-token ``hashlib.md5`` as an
    interpreter tax; round 4 benchmarked five alternatives at sf0.1
    (5000 docs, ~850k tokens, median of 3): this UDF 0.46 s;
    pd.factorize vocab-dedup + reduceat voting 0.75 s; JVM explode +
    xxhash64 + 64 bit-vote sums 0.83 s; JVM xxhash64 + SWAR-packed
    two-tier counters 0.89 s; JVM md5 + conv + 64 sums 1.9 s. hashlib's
    md5 is OpenSSL C and the whole loop is ~0.4 µs/token; every
    JVM-side variant pays more for the 1M-row explode + 65-buffer hash
    aggregate than this pays for Python. Both sides scale linearly in
    tokens and parallelize per-partition, so the local ranking holds on
    a cluster.

    Bit convention: result bit j votes on bit j of the big-endian uint64
    read of md5(token)[:8]; ties (ones == zeros) vote 0."""
    import hashlib

    out = np.zeros(len(texts), dtype=np.uint64)
    for i, text in enumerate(texts):
        toks = (text or "").lower().split()
        if not toks:
            continue
        digests = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in toks)
        # (n_tok, 64) 0/1 matrix; column k = bit 63-k of each token hash
        bits = np.unpackbits(
            np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8), axis=1
        )
        ones = bits.sum(axis=0, dtype=np.int64)
        # votes_k = ones_k - zeros_k > 0  <=>  2*ones_k > n_tok
        majority = 2 * ones > len(toks)
        out[i] = int.from_bytes(np.packbits(majority).tobytes(), "big")
    return pd.Series(out.view(np.int64))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``.

    Blocking on the top ``prefix_bits`` bits (near-dups usually share the
    prefix) keeps the self-join off n²; a production variant would use 4
    rotated prefix tables for exact recall at distance ≤ 3.

    Hashes via the ``simhash64`` UDF. Token-less (whitespace-only,
    empty, NULL) docs emit no pairs: they are pre-filtered on the same
    any-whitespace tokenizer (``\\s``-aware — plain trim() misses
    tab/newline-only docs), as the SQL oracle's tokenizer (l04) drops
    them.
    """
    # prefix_bits=0 disables blocking (all-pairs): the shift must be a
    # literal 0 block — shiftrightunsigned(sim, 64) is the IDENTITY (the
    # JVM masks long shifts to 6 bits), which would block on the full
    # hash and find only distance-0 pairs.
    block = (
        F.lit(0).cast("long")
        if prefix_bits == 0
        else F.shiftrightunsigned("sim", 64 - prefix_bits)
    )
    sh = docs.filter(
        F.regexp_replace(F.col(text_col), r"\s+", "") != ""
    ).select(
        F.col(id_col).alias("id"),
        simhash64(F.col(text_col)).alias("sim"),
    ).withColumn("block", block)
    a, b = sh.alias("a"), sh.alias("b")
    # long, matching SQL engines' BIGINT bit_count (audit_types parity)
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("hamming"),
        )
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicates (id_a < id_b, cosine ≥ threshold).

    Exact all-pairs baseline as a BLOCK-GRID (triangle) cogroup + a
    vectorized Arrow UDF. Three pure-SQL shapes were measured and
    rejected at sf0.1: the ``a.id < b.id`` theta self-join plans as
    BroadcastNestedLoopJoin with the scoring expression in the join
    condition — evaluated interpreted, no codegen (~100 s); the same
    predicate inside an equi-join condition also evaluates outside
    codegen (~16 s); and AQE coalesces the small shuffle INPUT to one
    task even though the join OUTPUT is the n^2 explosion.

    Design: each vector lands in block p = pmod(xxhash64(id), B); the
    left side replicates to cells (p, q>=p), the right to cells
    (p<=q, q); each of the B(B+1)/2 cells cogroups into one
    ``applyInPandas`` call that scores its pair matrix in numpy. Only
    B*n rows ever move — the n^2 pair relation is never materialized as
    Spark rows. The k-loop accumulates per-dimension, left-to-right in
    float64, so every pair's sum is BIT-IDENTICAL to the SQL/DuckDB
    left-fold (matmul's pairwise summation would not be); rounding
    stays JVM-side (HALF_UP).

    At 100 TB: shuffle is B*n rows; one cell holds 2n/B vectors and an
    (n/B)^2 score matrix chunked by Arrow batch — B is chosen so a cell
    fits an executor. The sub-n^2 scale path is LSH
    (``similarity.ann_lsh_buckets``); this operator is the exact
    oracle-checkable baseline.
    """
    import numpy as np
    import pandas as pd

    from ekati_spark.operators.similarity import _infer_dim

    B = n_blocks
    dim = _infer_dim(emb, vec_col)
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(B))
    # NULL or off-dimension vectors: the SQL path yielded NULL cosine
    # (zip_with null-pads) and the pair dropped below any threshold;
    # np.stack would instead abort the job, so drop those rows up front
    # (vectors of the inferred dim behave identically to before)
    v = emb.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), blk.alias("blk")
    )
    left = v.select(
        "id",
        "v",
        F.col("blk").alias("p"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("q"),
        F.lit(0).alias("side"),
    ).withColumn("cell", F.col("p") * B + F.col("q"))
    right = v.select(
        "id",
        "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("p"),
        F.col("blk").alias("q"),
        F.lit(1).alias("side"),
    ).withColumn("cell", F.col("p") * B + F.col("q"))
    # one side-tagged union + single-key grouping (a cogroup of two
    # frames sharing lineage hits an optimizer attribute-dedup bug that
    # prunes the right side's columns); the UDF splits sides in pandas
    both = left.unionByName(right)

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "raw": pd.Series(dtype="float64"),
            }
        )
        lpdf = pdf[pdf["side"] == 0]
        rpdf = pdf[pdf["side"] == 1]
        if lpdf.empty or rpdf.empty:
            return empty
        p, q = divmod(int(pdf["cell"].iloc[0]), B)
        A = np.stack(lpdf["v"].to_numpy()).astype(np.float64)
        C = np.stack(rpdf["v"].to_numpy()).astype(np.float64)
        ids_a = lpdf["id"].to_numpy()
        ids_b = rpdf["id"].to_numpy()
        # per-DIMENSION sequential accumulation: each (i,j) entry adds
        # its k-terms left-to-right in float64 — bit-identical to the
        # SQL/DuckDB left-fold, unlike matmul's pairwise summation
        dots = np.zeros((len(ids_a), len(ids_b)))
        na = np.zeros(len(ids_a))
        nb = np.zeros(len(ids_b))
        for k in range(A.shape[1]):
            dots += np.multiply.outer(A[:, k], C[:, k])
            na += A[:, k] * A[:, k]
            nb += C[:, k] * C[:, k]
        denom = np.multiply.outer(np.sqrt(na), np.sqrt(nb))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0.0, dots / denom, np.nan)
        if p == q:
            keep = np.less.outer(ids_a, ids_b)  # id_a < id_b, once
        else:
            keep = np.ones_like(cos, dtype=bool)
        # pre-filter with 1e-6 slack (rounding happens JVM-side so the
        # HALF_UP semantics match the SQL path exactly)
        keep &= np.nan_to_num(cos, nan=-2.0) >= threshold - 1e-6
        ii, jj = np.nonzero(keep)
        if not len(ii):
            return empty
        ia, ib = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "raw": cos[ii, jj]})

    raw = both.groupBy("cell").applyInPandas(
        cell_pairs, "id_a long, id_b long, raw double"
    )
    return (
        raw.withColumn("cosine", F.round("raw", 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-substring spans: maximal runs of token positions
    whose ``n``-gram occurs at least ``min_count`` times corpus-wide —
    the distributed reformulation of suffix-array substring dedup (the
    "dedup training data" recipe): any duplicated substring of length
    >= n tokens is exactly the union of duplicated n-gram occurrences,
    so spans fall out of an island analysis over duplicated positions.

    Plan shape (all whole-stage codegen, no lambda HOFs): posexplode
    tokens -> window ``lead`` builds every n-gram occurrence ``(id, pos,
    g)`` -> global ``groupBy(g)`` keeps grams with >= min_count
    occurrences (map-side partial agg first, so the shuffle carries one
    row per distinct gram per partition) -> semi-join occurrences back
    -> per-doc island grouping (``pos - row_number``) -> one aggregate
    per span. Three shuffles total (window, gram count, island window);
    the gram-count shuffle dominates at 100 TB — shuffle bytes shrink
    ~8x by pre-hashing grams to xxhash64 before the exchange, at the
    cost of exactness under collisions, so the string form stays the
    default and the hash form is the opt-in scale path. Ultra-hot grams
    (boilerplate) skew the count shuffle; AQE skew-join splitting and
    the partial aggregation both cap the damage.

    Returns ``(doc_id, span_start, span_end, span_tokens,
    n_dup_ngrams)`` with 0-based inclusive token positions. Reference
    analog: none (part of the LLM-data extension).
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), " +")).alias(
            "pos", "tok"
        ),
    )
    w = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    # gram + tail-validity in ONE projection (window-after-filter trap)
    occ = (
        toks.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            parts[-1].alias("last"),
        )
        .filter(F.col("last").isNotNull())
        .select("id", "pos", "g")
    )
    dup = (
        occ.groupBy("g")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("g")
    )
    hits = occ.join(dup, "g", "left_semi").select("id", "pos")
    w2 = W.partitionBy("id").orderBy("pos")
    runs = hits.select(
        "id", "pos", (F.col("pos") - F.row_number().over(w2)).alias("grp")
    )
    return (
        runs.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            F.count("*").alias("n_dup_ngrams"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_dup_ngrams",
        )
    )


def scrub_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REWRITE pass over ``duplicate_ngram_spans``: drop every token
    covered by a corpus-duplicated n-gram and reassemble what's left —
    the "remove duplicated substrings" recipe applied as a bulk
    transform (detection finds the spans; this produces the cleaned
    corpus a tokenizer actually consumes).

    Returns one row per input document: ``(doc_id, n_tokens,
    n_removed, scrubbed_digest)`` where the digest is md5 of the kept
    tokens joined by single spaces (md5, not the text, so the oracle
    hash-attests the rewrite without hauling rewritten bodies through
    the comparator). Fully-duplicated documents scrub to the empty
    string (digest of ``''``), never disappear.

    Plan shape on top of the detector's three shuffles: duplicated
    gram-start positions explode to covered positions (``explode ∝
    duplicated tokens only``, not corpus tokens), one left anti join
    of token rows against covered positions, and a per-doc
    ``listagg WITHIN GROUP`` — the order-by rides the existing
    per-doc clustering, so the rewrite adds one aggregate exchange
    over kept tokens. At 100 TB the dominant cost stays the gram-count
    shuffle documented on ``duplicate_ngram_spans``."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), " +")).alias(
            "pos", "tok"
        ),
    )
    w = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", kk).over(w) for kk in range(1, n)]
    occ = (
        toks.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            parts[-1].alias("last"),
        )
        .filter(F.col("last").isNotNull())
        .select("id", "pos", "g")
    )
    dup = (
        occ.groupBy("g")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("g")
    )
    covered = (
        occ.join(dup, "g", "left_semi")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    totals = toks.groupBy("id").agg(F.count("*").alias("n_tokens"))
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    kept_agg = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY pos)").alias(
            "scrubbed"
        ),
    )
    return totals.join(kept_agg, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
        F.md5(F.coalesce("scrubbed", F.lit(""))).alias("scrubbed_digest"),
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact all-pairs n-gram CONTAINMENT >= threshold (id_a < id_b),
    where containment = |A∩B| / min(|A|,|B|) over distinct-shingle
    sets. The asymmetric near-dup metric: a short doc quoted inside a
    long one scores high containment but near-zero Jaccard, so this is
    the quote/subsumption detector Jaccard misses. Same
    shingle-inverted-index self-join as ``ngram_jaccard_pairs`` (cost
    ∝ Σ shared-shingle bucket², not n²); at 100 TB the scale path is
    the LSH candidate generator feeding this as the verifier."""
    rows = shingle_rows(
        docs, n, text_col, id_col, widen=False
    ).transform(cut_lineage)
    sz = rows.groupBy("id").agg(F.count("*").alias("sz"))
    ex = rows.join(sz, "id")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    cont = F.col("n_shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination hits: ``(doc_id, n_hit_ngrams)`` for
    every corpus document sharing at least one word ``n``-gram with any
    benchmark document (the pre-training eval-leakage check).

    The benchmark gram set is dimension-sized next to the training
    corpus (eval suites are MBs against a 100 TB corpus), so it is
    deduplicated and broadcast: the corpus side is one codegen
    shingle pass (``shingle_rows`` — explode + lead, no interpreted
    array-HOF lambdas) followed by a broadcast-hash semi-ish join and a
    per-doc count; the only corpus shuffle is the final per-doc
    aggregate, carrying hit rows only (rare by construction).
    """
    bench = (
        shingle_rows(benchmark, n, text_col, id_col).select("g").distinct()
    )
    return (
        shingle_rows(corpus, n, text_col, id_col)
        .join(F.broadcast(bench), "g")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


def chunk_dedup_rewrite(
    docs: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level dedup REWRITE: segment each doc into fixed-width token
    chunks, keep only the globally-first occurrence of each distinct
    chunk (ordered by (doc_id, chunk_idx)), and emit the cleaned
    document fingerprint — the "apply" counterpart of
    ``duplicate_ngram_spans`` (which only reports): boilerplate and
    copied passages are cut once corpus-wide, the pass RefinedWeb/C4-
    style pipelines run before training.

    Shape: one explode (ceil(n/chunk) rows/doc), one window over the
    chunk hash (shuffle ∝ corpus tokens / chunk), one groupBy back to
    docs. The keep rule is a deterministic total order, so output is
    partition-independent. Returns (id, n_chunks, n_removed,
    cleaned_md5).
    """
    from pyspark.sql import Window as W

    toks = F.split(F.trim(F.lower(F.col(text_col))), " +")
    n_chunks = F.ceil(F.size("toks") / F.lit(chunk_tokens)).cast("int")
    chunks = (
        docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .select(
            "id",
            "toks",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx", "_i"
            ),
        )
        .select(
            "id",
            "chunk_idx",
            F.array_join(
                F.slice(
                    "toks",
                    F.col("chunk_idx") * chunk_tokens + 1,
                    chunk_tokens,
                ),
                " ",
            ).alias("chunk"),
        )
    )
    w = W.partitionBy(F.md5("chunk")).orderBy("id", "chunk_idx")
    marked = chunks.withColumn("rn", F.row_number().over(w))
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk"))
        )
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_removed"),
            # struct sort = chunk order; tiny per-doc arrays, HOF fine
            F.md5(
                F.array_join(
                    F.transform(kept_sorted, lambda s: s["chunk"]), " "
                )
            ).alias("cleaned_md5"),
        )
        .select(
            F.col("id").alias(id_col), "n_chunks", "n_removed", "cleaned_md5"
        )
    )


def cdc_chunk_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 4,
    mod: int = 8,
) -> DataFrame:
    """Content-defined chunking: split each doc into variable-length
    chunks whose boundaries depend only on LOCAL token content — a
    boundary falls after token i when the md5-derived hash of the
    ``gram``-token window ending at i is ≡ 0 (mod ``mod``), giving
    chunks of ~``mod`` tokens on average. Unlike fixed-width chunking
    (l38), an insertion re-synchronizes within one gram instead of
    shifting every later boundary — the LBFS/rsync property that makes
    chunk stores and dataset-delta dedup work. Returns one row per
    chunk: (id, chunk_id, chash, n_tok). All JVM built-ins; one doc-id
    exchange reused by both window passes; no cross-doc state."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.trim(F.lower(text_col)), " +")
        ).alias("pos", "tok"),
    )
    wdoc = W.partitionBy("id").orderBy("pos")
    lags = [F.lag("tok", k).over(wdoc) for k in range(gram - 1, 0, -1)]
    grams = toks.select(
        "id",
        "pos",
        "tok",
        F.concat_ws(" ", *lags, F.col("tok")).alias("gram"),
    )
    flagged = grams.select(
        "id",
        "pos",
        "tok",
        F.when(
            (F.col("pos") >= gram - 1)
            & (
                F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
                .cast("long")
                % mod
                == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    assigned = flagged.select(
        "id",
        "pos",
        "tok",
        F.coalesce(
            F.sum("boundary").over(
                wdoc.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("chunk_id"),
    )
    return assigned.groupBy("id", "chunk_id").agg(
        F.md5(
            F.expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY pos)")
        ).alias("chash"),
        F.count("*").alias("n_tok"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every word ``k``-gram, slide a ``w``-wide
    window over the hash sequence, and keep each window's minimum
    (rightmost on ties) — the guarantee is that any shared substring of
    ≥ w+k−1 tokens yields at least one shared fingerprint, at a
    selection density of ~2/(w+1). Returns distinct ``(id, fph)`` rows.

    Distributed shape: gram hashing is the shingle codegen pass; the
    per-window argmin folds into ONE trailing-frame window min over an
    integer key ``h·2²¹ + (2²¹−1−pos)`` — min of the key IS
    (min hash, rightmost position), so selection needs no join and no
    UDF, and the decode back to the hash is one integer division.
    Strict full-window semantics: docs with fewer than w grams emit no
    fingerprints (short docs belong to exact dedup). Key bounds:
    h < 2³¹, gram position < 2²¹ (2M tokens/doc) keeps the key < 2⁵²,
    exact in both engines. The only shuffles are the per-doc window
    sort and the final distinct — fingerprint volume is ~2/(w+1) of
    gram volume, the winnowing compression that makes corpus-wide
    fingerprint joins tractable at 100 TB."""
    from pyspark.sql import Window as W

    # one id-hash exchange that the per-doc gram/winnow windows reuse
    # (HashPartitioning(id) satisfies their clustering) — without it
    # the tokenize+explode runs on the single local parquet split and
    # the window stages get AQE-coalesced to ~2 tasks; no-op at scale
    toks = widen_narrow_scan(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), " +")).alias(
            "pos", "tok"
        ),
    )
    wd = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(wd) for j in range(1, k)]
    grams = (
        toks.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            parts[-1].alias("last"),
        )
        .filter(F.col("last").isNotNull())
        .select(
            "id",
            "pos",
            (
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
                % F.lit(MERSENNE_31)
            ).alias("h"),
        )
    )
    # The packed key is only order-correct for pos < 2^21 (2M grams per
    # doc); beyond that the (2^21-1 - pos) term goes negative and would
    # silently corrupt both the tie-break and the `wmin div 2^21`
    # decode. Fail loudly instead: raise_error is codegen, costs one
    # comparison per gram, and oversized docs belong upstream in a
    # length gate anyway.
    pos_guarded = F.when(
        F.col("pos") < 2097152, F.col("pos")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("winnow_fingerprints: doc "),
                F.col("id").cast("string"),
                F.lit(" exceeds 2^21 grams; split or length-gate it"),
            )
        ).cast("int")
    )
    keyed = grams.select(
        "id",
        "pos",
        (
            F.col("h") * F.lit(2097152) + (F.lit(2097151) - pos_guarded)
        ).alias("key"),
    )
    frame = W.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = keyed.select(
        "id",
        F.row_number().over(W.partitionBy("id").orderBy("pos")).alias("rn"),
        F.min("key").over(frame).alias("wmin"),
    ).filter(F.col("rn") >= w)
    return sel.select(
        "id", F.expr("wmin div 2097152").alias("fph")
    ).distinct()


def suffix_window_spans(
    docs: DataFrame,
    cap: int = 32,
    min_len: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Suffix-array exact-substring dedup report (the "deduplicating
    training data" suffix-array recipe): per document, the length and
    start of its LONGEST substring that occurs elsewhere in the corpus
    (within or across documents), measured in tokens and capped at
    ``cap`` — plus how many of its suffixes open a duplicated substring
    of >= ``min_len`` tokens. Where ``duplicate_ngram_spans`` (l28)
    reports islands of duplicated fixed-width grams (every gram may
    match a DIFFERENT other location), this is the true suffix-array
    semantics: one contiguous match of exactly-measured length.

    Construction: a suffix array restricted to ``cap``-token comparison
    windows needs NO prefix-doubling — sorting the capped suffix
    windows directly IS the suffix array up to ties beyond ``cap``
    (irrelevant: all reported lengths are <= ``cap``), and any
    duplicated substring of length l <= cap makes two suffixes agree on
    their first l tokens, i.e. sort-adjacent neighbors with LCP >= l.
    So: posexplode suffix positions -> slice the ``cap``-token window
    -> ONE distributed sort with a global row index and in-row
    sort-neighbors (``sampling.ordered_row_number`` over a sampled
    range layout: per-partition offsets and boundary neighbors come
    from one distributed aggregate broadcast back, never a
    single-reducer window) -> token-level LCP as a codegen'd zip_with/
    array_position expression -> per-suffix dup_len = max(LCP with
    sort-predecessor, LCP with sort-successor) -> per-doc aggregate.

    Scale shape: every stage is linear in corpus tokens — suffix rows
    carry <= cap tokens (~cap * avg-token bytes each), the sort is
    Spark's range-partitioned sort plus one window per partition,
    adjacency is a lead/lag in that window, and the LCP keeps
    whole-stage codegen. At
    100 TB the sort IS the cost (the published distributed suffix-array
    bound); ``cap`` bounds both row width and comparison depth, and is
    a semantic parameter, not an approximation: dedup thresholds
    ``min_len <= cap`` are exact.

    Returns ``(doc_id, max_dup_len, span_start, span_end,
    n_dup_suffixes)`` for documents with ``max_dup_len >= min_len``;
    positions 0-based inclusive, ``span_start`` the smallest qualifying
    position. Deterministic end-to-end (total sort order tie-broken by
    (doc, pos)), so a SQL oracle replays it exactly. Reference analog:
    none (LLM-data extension).
    """
    from ekati_spark.operators.sampling import ordered_row_number

    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), " +").alias("ts"),
    )
    # The sort row carries ONLY the string window key (plus id/pos):
    # `k` and the token array are the same content (tokens come from a
    # whitespace split, so join-by-space is lossless), and shipping
    # both through the range exchange + persist doubled the sorted
    # bytes. The array is re-split from `k` AFTER the sort (one
    # codegen projection over the ranged frame).
    suf = toks.select(
        "id", F.posexplode("ts").alias("pos", "_tok"), F.col("ts")
    ).select(
        "id",
        "pos",
        F.array_join(
            F.slice(F.col("ts"), F.col("pos") + 1, F.lit(cap)), " "
        ).alias("k"),
    )
    # Sort-adjacent neighbors arrive IN-ROW (``neighbor_col`` —
    # lead/lag over the window the global index already pays for,
    # plus two ≤#partitions-row broadcast fix-ups at partition
    # boundaries), so both LCPs are per-row expressions. The previous
    # formulation materialized an (idx, lcp) pair table via an
    # adjacent-pair SELF-JOIN and re-attached it with two more joins:
    # five ENSURE_REQUIREMENTS hash exchanges of the full suffix table
    # plus an extra localCheckpoint job, all gone (guide §2.4; the
    # round-16 A/B and plan diff are in OPTIMIZATION_r16.md).
    keyed = ordered_row_number(
        suf,
        ["k", "id", "pos"],
        out_col="idx",
        num_partitions=num_partitions,
        neighbor_col="k",
    ).select(
        "id",
        "pos",
        F.split(F.col("k"), " ").alias("arr"),
        F.split(F.col("k_next"), " ").alias("brr"),
        F.split(F.col("k_prev"), " ").alias("prr"),
    )

    # Adjacent-pair LCP: zip_with pads the shorter side with null and
    # eqNullSafe(null) is false, so the first `false` position IS the
    # mismatch point; no false => identical up to min length. A NULL
    # neighbor (the ends of the total order) nulls the whole
    # expression, coalesced to 0 — exactly what the old left joins
    # produced for the missing adjacent row. LCP is symmetric, so the
    # predecessor-side value computed here from (k_prev, k) is the
    # identical integer the old plan shipped from row idx-1.
    def lcp_with(other: str) -> Column:
        zipped = F.zip_with("arr", other, lambda x, y: x.eqNullSafe(y))
        p = F.array_position(zipped, False)
        return F.when(
            p == 0, F.least(F.size("arr"), F.size(other))
        ).otherwise(p - 1)

    duplen = (
        keyed.select(
            "id",
            "pos",
            F.greatest(
                F.coalesce(lcp_with("brr").cast("int"), F.lit(0)),
                F.coalesce(lcp_with("prr").cast("int"), F.lit(0)),
            ).alias("dup_len"),
        )
        .transform(cut_lineage)
    )
    agg = duplen.groupBy("id").agg(
        F.max("dup_len").cast("int").alias("max_dup_len"),
        F.sum((F.col("dup_len") >= min_len).cast("int"))
        .cast("long")
        .alias("n_dup_suffixes"),
    ).filter(F.col("max_dup_len") >= min_len)
    return (
        agg.join(duplen, "id")
        .filter(F.col("dup_len") == F.col("max_dup_len"))
        .groupBy("id", "max_dup_len", "n_dup_suffixes")
        .agg(F.min("pos").cast("int").alias("span_start"))
        .select(
            F.col("id").alias("doc_id"),
            "max_dup_len",
            "span_start",
            (F.col("span_start") + F.col("max_dup_len") - 1)
            .cast("int")
            .alias("span_end"),
            "n_dup_suffixes",
        )
    )
