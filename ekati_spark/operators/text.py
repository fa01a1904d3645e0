"""Text-analysis operators for training-data pipelines: tokenization,
language ID, quality scoring, fingerprinting.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs. Every helper returns Columns or
DataFrames so they compose into larger declarative plans; at 100 TB these
are embarrassingly parallel per-row maps with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Minimal per-language stopword lists (deterministic, self-contained).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "para"],
    "zh": ["de", "shi", "bu", "le", "wo", "ni", "ta", "men", "zai"],
}


def tokens(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization (split on runs of spaces)."""
    t = F.lower(text) if lowercase else text
    return F.split(F.trim(t), " +")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_ratio(text: Column) -> Column:
    t = tokens(text)
    return F.size(F.array_distinct(t)).cast("double") / F.size(t)


def stopword_hits(text: Column, lang: str) -> Column:
    """Distinct stopwords of ``lang`` present in the text."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(text)),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of distinct-stopword hits, ties broken
    by language code ascending; 'und' when nothing matches.

    Implemented as ``least`` over (-hits, lang) structs — lexicographic
    struct comparison is portable to the DuckDB oracle verbatim."""
    structs = [
        F.struct(
            (-stopword_hits(text, lg)).alias("neg_hits"),
            F.lit(lg).alias("lang"),
        )
        for lg in sorted(STOPWORDS)
    ]
    best = F.least(*structs)
    return F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length band + distinct-token
    ratio + alpha-character ratio (the usual pretraining-filter features)."""
    n_tok = token_count(text)
    len_score = F.when((n_tok >= 10) & (n_tok <= 200), 1.0).otherwise(0.5)
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")).cast("double")
        / F.greatest(F.length(text), F.lit(1))
    )
    return F.round(
        (len_score + distinct_token_ratio(text) + alpha_ratio) / 3.0, 6
    )


def content_fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set. Identical token multiset ⇒ identical fingerprint; robust to
    token reordering (a cheap SQL-portable cousin of winnowing)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    )


# --- Hashed linear quality classifier (fastText-style scoring) ---------

CLASSIFIER_DIM = 4096  # hashing-trick feature dimension
_W_MULT = 2654435761  # Knuth multiplicative constant: bucket -> weight seed
_W_OFFSET = 12345


def hashed_token_weight_milli(token: Column, dim: int = CLASSIFIER_DIM) -> Column:
    """Integer milli-weight of one token under the frozen hashed-BoW
    linear model (long in ``[-1000, 1000]``; real weight = this / 1000).

    Hashing trick: token -> md5-derived 60-bit integer -> bucket in
    ``[0, dim)``; the frozen weight vector is itself derived from the
    bucket (multiplicative hash into [-1000, +1000]), so the "model"
    ships as two integer constants instead of an array — every engine
    (and the DuckDB oracle) can replay it exactly. Kept in INTEGER
    milli-units so document sums are exact and merge-order-independent
    (no decimal rescue needed). Max intermediate is
    ``(dim-1) * _W_MULT + _W_OFFSET`` ≈ 1.1e13, well inside int64.
    """
    h = F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")
    return ((h % dim) * F.lit(_W_MULT) + F.lit(_W_OFFSET)) % 2001 - 1000


def classifier_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = ("lang",),
    dim: int = CLASSIFIER_DIM,
) -> DataFrame:
    """Score every document under the frozen hashed-BoW linear model:
    logit = mean token weight; keep = logit > 0 (no sigmoid — ``exp()``
    is libm-dependent across engines and thresholding the logit is the
    same decision).

    Shape: explode tokens -> codegen integer weight -> hash-aggregate
    by document. NOT array HOFs — Spark evaluates ``transform``/
    ``aggregate`` lambdas interpreted row-at-a-time (the per-token md5
    would leave codegen); exploded rows keep every expression inside
    WholeStageCodegen. A document's tokens land in one input partition,
    so the partial (map-side) aggregate collapses them to one row per
    doc BEFORE the exchange: shuffle ∝ documents, not tokens. The
    integer milli-weight sum is exact, so the single final division is
    bit-identical regardless of merge order or reducer count.
    """
    t = F.col(text_col)
    exploded = docs.select(
        id_col, *carry_cols, F.explode(tokens(t)).alias("tok")
    ).select(
        id_col,
        *carry_cols,
        hashed_token_weight_milli(F.col("tok"), dim).alias("w"),
    )
    return exploded.groupBy(id_col, *carry_cols).agg(
        F.count("*").cast("int").alias("n_tok"),
        F.sum("w").alias("w_sum"),
    ).select(
        id_col,
        *carry_cols,
        "n_tok",
        (F.col("w_sum").cast("double") / (F.col("n_tok") * 1000.0)).alias(
            "logit"
        ),
        (F.col("w_sum") > 0).alias("keep"),
    )


BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_ish_tokens(text: Column) -> Column:
    """GPT-2-style pre-tokenization (contractions, space-prefixed word /
    number / punctuation runs) via one regexp_extract_all — the standard
    first stage of BPE token counting for training-data budgeting. The
    ASCII-class pattern is portable between Java regex (Spark) and RE2
    (DuckDB), which keeps it oracle-checkable."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


# --- Repetition filters (Gopher-style quality signals) -----------------

def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals used by Gopher/C4-style quality
    filters: duplicate-word fraction, most-frequent-word fraction, and
    most-frequent-bigram fraction.

    Shape: posexplode tokens → window ``lead`` for bigrams (no lambda
    HOFs in the per-token path) → per-(doc, term) counts → per-doc
    aggregates. Every shuffle is keyed by ``doc_id`` so the op scales
    with corpus size, not document count skew; a pathological single
    giant doc is one task's work.

    ``top_bigram_frac`` is NULL for documents with fewer than 2 tokens.
    """
    from pyspark.sql import Window as W

    from ekati_spark.operators.dedup import widen_narrow_scan

    # one id-hash exchange the per-doc windows/counts reuse; without
    # it the tokenize+explode runs on the single local parquet split
    # (no-op at real scale)
    toks = widen_narrow_scan(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = W.partitionBy("id").orderBy("pos")
    # bigram and its validity computed in the SAME select (a filter
    # between two window projections would corrupt the leads)
    rows = toks.select(
        "id",
        "tok",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bigram"),
        F.lead("tok", 1).over(w).isNotNull().alias("has_bigram"),
    )
    wstats = (
        rows.groupBy("id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_w"),
        )
    )
    bstats = (
        rows.filter("has_bigram")
        .groupBy("id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg"))
    )
    return wstats.join(bstats, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_w") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(F.col("top_bg") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    )


# --- PII redaction (C4-style scrubbing) --------------------------------

# RE2-compatible (no lookaround/backrefs) so the same pattern runs in
# Java regex (Spark) and RE2 (DuckDB oracle) with identical semantics.
PII_PATTERNS: dict[str, str] = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
}
_PII_ORDER = ["url", "email", "phone"]  # urls first: they may contain '@'


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (url/email/phone)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every URL/email/phone with a typed placeholder token.

    Pure per-row projection (three JVM regex passes, no shuffle, no
    Python); order matters — URLs are scrubbed before emails so
    'https://x.com/a@b' doesn't leave a half-redacted tail."""
    out = text
    for kind in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


# --- Sequence packing (training-batch assembly) ------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences.

    Contiguous greedy packing: docs are ordered by id within a
    deterministic hash bucket; a doc joins the pack where its running
    token offset starts (packs may overrun the budget by < one doc — the
    standard "pack then truncate" training shape). Returns
    ``(doc_id, bucket, pack_id, n_tokens, tok_offset)`` where
    ``tok_offset`` is the doc's start inside its bucket stream.

    The bucket bounds the ordering scope: each bucket packs
    independently in one task (window partitioned by bucket), so at
    100 TB this is ``n_buckets``-way parallel instead of a
    single-partition global sort. Determinism: bucket = pmod(id, n),
    order = id — stable across runs/engines, no RNG.
    """
    from pyspark.sql import Window as W

    nt = docs.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_buckets)).alias("bucket"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return nt.select(
        id_col,
        "bucket",
        F.floor(off / budget).alias("pack_id"),
        "n_tokens",
        off.alias("tok_offset"),
    )


def ngram_novelty_curve(docs: DataFrame, max_n: int = 5) -> DataFrame:
    """Corpus n-gram novelty curve: for n = 1..max_n, total word
    n-gram occurrences, distinct n-grams corpus-wide, and their ratio.

    The standard repetitiveness diagnostic for a training corpus
    (novelty falling fast with n ⇒ templated/boilerplate text; near 1
    at high n ⇒ fresh text): one explode+window codegen pipeline per n
    — both counts ride ONE aggregation over the occurrence stream, so
    no per-n cross join and shuffle ∝ corpus tokens. Novelty is a
    single double division from two exact integer counts
    (order-independent)."""
    from ekati_spark.operators.dedup import shingle_rows

    parts = []
    for n in range(1, max_n + 1):
        g = shingle_rows(docs, n, distinct=False)
        parts.append(
            g.agg(
                F.count("*").alias("total_ngrams"),
                F.countDistinct("g").alias("distinct_ngrams"),
            ).select(
                F.lit(n).alias("n"),
                "total_ngrams",
                "distinct_ngrams",
                (
                    F.floor(
                        F.col("distinct_ngrams").cast("double")
                        / F.col("total_ngrams").cast("double")
                        * 1000000
                        + F.lit(0.5)
                    )
                    / 1000000
                ).alias("novelty"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def quality_score_sums(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = CLASSIFIER_DIM,
) -> DataFrame:
    """Exact integer classifier score per document: ``(id_col,
    group_col, w_sum)`` under the frozen hashed-BoW model — the shared
    scoring stage of the adaptive threshold (l89) and its streaming
    gate (st23). Same codegen explode -> weight -> hash-agg shape as
    ``classifier_scores`` (shuffle ∝ documents, not tokens)."""
    t = F.col(text_col)
    return (
        docs.select(id_col, group_col, F.explode(tokens(t)).alias("tok"))
        .select(
            id_col,
            group_col,
            hashed_token_weight_milli(F.col("tok"), dim).alias("w"),
        )
        .groupBy(id_col, group_col)
        .agg(F.sum("w").alias("w_sum"))
    )


def adaptive_quality_cuts(
    scores: DataFrame,
    q: tuple[int, int] = (3, 10),
    group_col: str = "source",
) -> DataFrame:
    """Per-group top-``q`` cut table from a score HISTOGRAM:
    ``(group_col, cut_score, need_at_cut)`` where keeping everything
    strictly above ``cut_score`` plus the ``need_at_cut`` smallest-id
    docs AT it yields exactly k = ceil(n * num / den) per group. The
    window runs over (group, distinct score) rows — a fraction of
    docs — never the corpus. This small table is what a production
    deployment refreshes offline and broadcasts onto ingest (st23)."""
    from pyspark.sql import Window as W

    num, den = q
    hist = scores.groupBy(group_col, "w_sum").agg(F.count("*").alias("n"))
    wd = (
        W.partitionBy(group_col)
        .orderBy(F.desc("w_sum"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wg = W.partitionBy(group_col)
    ranked = hist.select(
        group_col,
        "w_sum",
        "n",
        F.sum("n").over(wd).alias("cum"),
        F.sum("n").over(wg).alias("tot"),
    )
    # k = ceil(tot * num / den) in pure integer arithmetic (`div`, not
    # `/` — double division would misround once tot * num nears 2^53)
    k = F.expr(f"(tot * {num} + {den} - 1) div {den}").cast("long")
    return (
        ranked.withColumn("k", k)
        .filter(F.col("cum") >= F.col("k"))
        .groupBy(group_col)
        .agg(
            F.max("w_sum").alias("cut_score"),
            (
                F.max_by(F.col("k") - (F.col("cum") - F.col("n")), "w_sum")
            ).alias("need_at_cut"),
        )
    )


def adaptive_quality_topq(
    docs: DataFrame,
    q: tuple[int, int] = (3, 10),
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = CLASSIFIER_DIM,
) -> DataFrame:
    """Per-group adaptive quality filtering: keep the top ``q`` fraction
    of documents WITHIN each group (source/dump/domain), ranked by the
    frozen hashed-BoW classifier score — the FineWeb-style refinement of
    a single global threshold (a fixed cutoff over-prunes weak sources
    and under-prunes strong ones; a per-source quantile adapts).

    ``q`` is an exact rational (num, den): per group of n docs, keep
    k = ceil(n * num / den), ranked by (score desc, id asc) — fully
    deterministic, no float quantiles.

    Scale shape — the cutoff comes from a score HISTOGRAM, never a
    per-document rank window: per-doc integer scores (explode ->
    codegen weight -> hash-agg, shuffle ∝ docs) aggregate to
    (group, score, count) — bounded by distinct scores per group, a
    fraction of docs. The per-group running-total window runs over
    that histogram, yielding each group's cut score and how many
    ties at the cut survive (need_at_cut). Docs strictly above their
    group's cut keep unconditionally (broadcast join against the
    #groups-row cut table); ONLY the cut-score ties (a handful per
    group) enter an id-ranked window. A naive row_number over all
    docs per group would sort the full corpus per group at 100 TB;
    this sorts distinct-score histograms plus tie groups.

    Returns kept docs: (id_col, group_col, w_sum).
    """
    from pyspark.sql import Window as W

    from ekati_spark.checkpoint import cut_lineage

    num, den = q
    scores = quality_score_sums(
        docs, group_col=group_col, text_col=text_col, id_col=id_col, dim=dim
    ).transform(cut_lineage)  # consumed by histogram + both keep paths
    cuts = adaptive_quality_cuts(scores, q=(num, den), group_col=group_col)
    above = scores.join(F.broadcast(cuts), group_col).filter(
        F.col("w_sum") > F.col("cut_score")
    )
    at_cut = scores.join(F.broadcast(cuts), group_col).filter(
        F.col("w_sum") == F.col("cut_score")
    )
    wtie = W.partitionBy(group_col).orderBy(F.asc(id_col))
    tied = at_cut.select(
        "*", F.row_number().over(wtie).alias("rn")
    ).filter(F.col("rn") <= F.col("need_at_cut"))
    return above.select(id_col, group_col, "w_sum").unionByName(
        tied.select(id_col, group_col, "w_sum")
    )


def bpe_encode_greedy(
    docs: DataFrame,
    rules: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-pass greedy BPE-style ENCODE: apply a learned merge
    table (``(tok_a, tok_b)`` pairs, e.g. l44's top-k) to every
    document in ONE left-to-right scan — position i merges with i+1
    iff the pair is in the table and i wasn't consumed by the previous
    merge. This is the deterministic streaming-scan variant of BPE
    application (classic BPE re-applies rules in rank order with
    cascades; since these rules pair BASE tokens only, a merged symbol
    can never re-match, so rank order affects nothing here and one
    scan is the whole algorithm — exactly the property that makes the
    encode a single distributed pass at 100 TB instead of k
    sequential corpus rewrites).

    The sequential "wasn't consumed" chain has a closed form: within
    each maximal run of consecutive rule-matching positions, merges
    land on even offsets — an island analysis (``pos − row_number``),
    so the whole encode is windows + one broadcast semi-join, no
    iteration and no Python. Returns ``(doc_id, n_tokens, n_merges,
    encoded_digest)`` with the digest = md5 of the encoded symbol
    sequence (merged pairs joined as ``a_b``), attesting the exact
    token stream without hauling it."""
    from pyspark.sql import Window as W

    from ekati_spark.operators.dedup import widen_narrow_scan

    # the l97 shape: widen the tokenize, the per-doc island windows
    # then reuse the id exchange (no-op at real scale)
    toks = widen_narrow_scan(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), " +")).alias(
            "pos", "tok"
        ),
    )
    w = W.partitionBy("id").orderBy("pos")
    pr = toks.select("id", "pos", "tok", F.lead("tok").over(w).alias("nxt"))
    m = pr.join(
        F.broadcast(rules.select("tok_a", "tok_b")),
        (F.col("tok") == F.col("tok_a")) & (F.col("nxt") == F.col("tok_b")),
        "left_semi",
    ).select("id", "pos")
    isl = m.select(
        "id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    wg = W.partitionBy("id", "grp")
    mg = isl.select(
        "id",
        "pos",
        (((F.col("pos") - F.min("pos").over(wg)) % 2) == 0).alias("mrg"),
    )
    fl = pr.join(mg, ["id", "pos"], "left").select(
        "id",
        "pos",
        "tok",
        "nxt",
        F.coalesce("mrg", F.lit(False)).alias("mrg"),
    )
    # symbol, merge flag, and consumed-by-previous flag in the SAME
    # select (window-after-filter trap), then filter
    em = fl.select(
        "id",
        "pos",
        F.when(
            F.col("mrg"), F.concat_ws("_", F.col("tok"), F.col("nxt"))
        )
        .otherwise(F.col("tok"))
        .alias("sym"),
        "mrg",
        F.coalesce(F.lag("mrg").over(w), F.lit(False)).alias("prev"),
    )
    tot = em.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("mrg").cast("long")).alias("n_merges"),
    )
    enc = (
        em.filter(~F.col("prev"))
        .groupBy("id")
        .agg(
            F.md5(
                F.expr("listagg(sym, ' ') WITHIN GROUP (ORDER BY pos)")
            ).alias("encoded_digest")
        )
    )
    return tot.join(enc, "id").select(
        F.col("id").alias(id_col), "n_tokens", "n_merges", "encoded_digest"
    )
