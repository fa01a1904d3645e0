"""LLM-data-pipeline inventory: dedup, similarity search, text analysis,
multimodal columns over the ``documents`` / ``embeddings`` tables.

Oracle-checkable queries pair with DuckDB SQL computing identical values;
hash-dependent ops whose primitives aren't portable to DuckDB (MinHash/
SimHash/LSH — they depend on xxhash64 / Pandas-UDF kernels) register
without an oracle (driver records a rows-only check) and are instead
differentially tested against exact baselines in pytest.
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from pyspark.sql import Window as W

from ekati_spark.checkpoint import cut_lineage, cut_lineage_lazy

from ekati_spark.catalog import load_table
from ekati_spark.driverside import collect_bounded
from ekati_spark.operators import dedup as D, sampling as P, similarity as S, text as X
from ekati_spark.operators.multimodal import content_stats, with_media_columns
from ekati_spark.scratch import mkscratch, rmscratch
from ekati_spark.session_store import get_or_build
from ekati_spark.queries.base import register


@register(
    "l01_dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
           min(doc_id) AS kept_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def l01_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text (hash-groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


@register(
    "l02_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             )) AS sh
      FROM documents WHERE doc_id < 120
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.1
    """,
)
def l02_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (≥ 0.1) on a doc subset."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.ngram_jaccard_pairs(docs, threshold=0.1)


# MinHash is SQL-replayable end-to-end: the base shingle hash is
# md5-derived (dedup.py::shingle_hash_rows — both engines compute it),
# permutation mins are order-independent aggregates, and band candidacy
# is EQUALITY of signature slices (the Spark side's xxhash64 band key
# is injective on equal slices), so the oracle joins directly on the
# slice values. Generated, not hand-written 64+32 times.
def _minhash_sql_parts(num_hashes: int, bands: int) -> tuple[str, str]:
    """(mins, band_eq) SQL fragments for the MinHash signature replay:
    per-permutation min aggregates named m0..mN, and the band-slice
    equality disjunction over aliases a/b."""
    from ekati_spark.operators.dedup import MERSENNE_31

    rows = num_hashes // bands
    mins = ", ".join(
        "min(({a} * h + {b}) % {m}) AS m{j}".format(
            a=(2 * j + 1) * 0x9E3779B1 % MERSENNE_31,
            b=(j * 0x85EBCA77 + 0xC2B2AE3D) % MERSENNE_31,
            m=MERSENNE_31,
            j=j,
        )
        for j in range(num_hashes)
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{b * rows + r} = b.m{b * rows + r}" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return mins, band_eq


def _l03_oracle(
    num_hashes: int = 64, bands: int = 32, where: str = ""
) -> str:
    """``where`` (e.g. "WHERE doc_id % 7 <> 3") restricts the corpus —
    the l92 GC parity uses it to replay the pipeline over survivors."""
    from ekati_spark.operators.dedup import MERSENNE_31

    mins, band_eq = _minhash_sql_parts(num_hashes, bands)
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents {where}
    ),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks
    ),
    h AS (
      SELECT id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
               % {MERSENNE_31} AS h
      FROM sh
    ),
    sig AS (SELECT id, count(*) AS sz, {mins} FROM h GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_eq})
    ),
    shared AS (
      SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, count(*) AS n_shared
      FROM cand c
      JOIN h ha ON ha.id = c.id_a
      JOIN h hb ON hb.id = c.id_b AND hb.h = ha.h
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           floor(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared)
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM shared
    WHERE floor(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared)
                * 1000000 + 0.5) / 1000000 >= 0.1
    """


@register("l03_minhash_lsh_pairs", oracle=_l03_oracle())
def l03_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates, Jaccard-verified (≥ 0.1).

    Oracle-checked EXACTLY (was rows-only through round 3): md5-derived
    shingle hashes, 64 permutation-min aggregates, band candidacy as
    signature-slice equality, and floor-based 6-decimal rounding replay
    bit-identically in DuckDB (_l03_oracle). Recall vs the exact
    baseline additionally asserted in tests/test_dedup.py. Runs the
    FULL documents table — LSH cost is ∝ candidates, not n², so unlike
    the exact-pairs oracle queries it needs no subset cap."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.1, num_hashes=64, bands=32)


# SimHash is deterministic (md5 token hashes, majority bit votes), so the
# oracle replays it in pure SQL: one CASE-vote term per bit, generated here
# rather than hand-written 64 times. Bit j of the hash = bit j of the
# big-endian uint64 read of md5(token)[:8] — '0x'||hex-prefix cast in DuckDB.
_SIMHASH_VOTE_TERMS = " + ".join(
    f"(CASE WHEN SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
    f" THEN CAST({1 << j} AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
    for j in range(64)
)


@register(
    "l04_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents WHERE doc_id < 150
    ),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS hv
      FROM tok WHERE t <> ''
    ),
    sim AS (
      SELECT doc_id, ({_SIMHASH_VOTE_TERMS}) AS sim FROM h GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b
      ON (a.sim >> 60) = (b.sim >> 60) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 8
    """,
)
def l04_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 8) with prefix blocking.
    Oracle-checked exactly: the DuckDB oracle replays the same md5 bit
    votes in SQL. Hashes through the measured-fastest Arrow UDF
    (benchmark matrix in operators/dedup.py::simhash64). Token-less
    docs are excluded by the operator's any-whitespace tokenizer,
    matching the oracle's implicit drop (the round-3 ADVICE
    trim-vs-\\s+ item)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.simhash_pairs(docs, max_hamming=8, prefix_bits=4)


@register(
    "l05_embedding_dup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.8
    """,
)
def l05_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_dup_pairs(emb, threshold=0.8)


@register(
    "l06_knn_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.qv,
                        CAST(e.embedding AS DOUBLE[])), 6) AS cosine
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id
         )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """,
)
def l06_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 neighbors for the first 10 vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.brute_force_topk(emb, q, k=5)


# The sign-LSH hyperplanes are seeded and the bucket dots accumulate in
# strict per-dim order (similarity.py::ann_lsh_buckets), so the whole
# approximate pipeline is SQL-replayable: inline the planes as DOUBLE
# literals (repr() round-trips exactly) and let list_dot_product compute
# the same left-fold. dim is pinned to the testdata contract (64); a
# drifted dim fails verify loudly rather than silently diverging.
def _l07_oracle() -> str:
    import numpy as np  # noqa: PLC0415

    dim, n_planes, n_tables, seed = 64, 6, 8, 42
    bucket_exprs = {}
    for side, vcol in (("c", "v"), ("q", "qv")):
        per_table = []
        for t in range(n_tables):
            rng = np.random.default_rng(seed + t)
            planes = rng.standard_normal((n_planes, dim))
            bits = " + ".join(
                f"(CASE WHEN list_dot_product({vcol}, "
                f"[{', '.join(repr(float(x)) for x in plane)}]::DOUBLE[]) > 0 "
                f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
                for p, plane in enumerate(planes)
            )
            per_table.append(f"({bits}) + {t << 32}::BIGINT")
        bucket_exprs[side] = ", ".join(per_table)
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
        AND embedding IS NOT NULL AND len(embedding) = {dim}
    ),
    cb AS (SELECT neighbor_id, unnest([{bucket_exprs["c"]}]) AS bucket FROM c),
    qb AS (SELECT query_id, unnest([{bucket_exprs["q"]}]) AS bucket FROM q),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.neighbor_id
      FROM qb JOIN cb USING (bucket)
      WHERE cb.neighbor_id <> qb.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(q.qv, c.v), 6) AS cosine
      FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """


@register("l07_knn_lsh", oracle=_l07_oracle())
def l07_knn_lsh(spark, sf_dir):
    """Approximate top-5 via multi-table sign-LSH buckets (scale path).
    Oracle-checked EXACTLY (was rows-only through round 3): the seeded
    hyperplanes inline into the SQL as DOUBLE literals and the bucket
    dots accumulate per-dim in index order on both sides, so DuckDB
    replays bucket assignment, candidate union, and cosine top-5
    bit-identically. Recall vs brute force is additionally asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ann_lsh_buckets(emb, q, k=5, n_planes=6)


@register(
    "l08_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(lower(text)), ' +')) AS INTEGER)
             AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
             AS INTEGER) AS n_distinct_tokens,
           round(CAST(len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
                 AS DOUBLE) / len(string_split_regex(trim(lower(text)), ' +')), 6)
             AS distinct_ratio,
           CAST(length(text) AS INTEGER) AS n_chars_measured,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def l08_text_stats(spark, sf_dir):
    """Per-document token stats + order-insensitive fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.size(F.array_distinct(X.tokens(t))).alias("n_distinct_tokens"),
        F.round(X.distinct_token_ratio(t), 6).alias("distinct_ratio"),
        F.length(t).alias("n_chars_measured"),
        X.content_fingerprint(t).alias("fingerprint"),
    )


@register(
    "l09_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, lang,
             len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','zu'])) AS h_de,
             len(list_intersect(toks, ['the','a','and','of','to','in','is','that','it','for'])) AS h_en,
             len(list_intersect(toks, ['el','la','los','las','y','es','un','una','en','para'])) AS h_es,
             len(list_intersect(toks, ['le','la','les','et','est','un','une','dans','pour'])) AS h_fr,
             len(list_intersect(toks, ['de','shi','bu','le','wo','ni','ta','men','zai'])) AS h_zh
      FROM t
    )
    SELECT doc_id, lang AS lang_label,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM h
    """,
)
def l09_lang_id(spark, sf_dir):
    """Heuristic stopword language ID next to the dataset's lang label."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        X.lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "l10_quality_filter",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE len(string_split_regex(trim(lower(text)), ' +')) BETWEEN 20 AND 400
      AND CAST(len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
          AS DOUBLE) / len(string_split_regex(trim(lower(text)), ' +')) > 0.3
    """,
)
def l10_quality_filter(spark, sf_dir):
    """Quality gate: token-count band + distinct-token ratio threshold."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.filter(
        X.token_count(t).between(20, 400) & (X.distinct_token_ratio(t) > 0.3)
    ).select("doc_id", "n_chars")


@register(
    "l11_multimodal_content",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           md5(text) AS content_md5,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def l11_multimodal_content(spark, sf_dir):
    """Multimodal binary-column plumbing: treat text bytes as an opaque
    payload; JVM-side stats (octet_length, md5) + typed metadata struct.
    The decode path is stubbed (operators.multimodal.decode_image)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = content_stats(with_media_columns(docs, "text"))
    return mm.select(
        "doc_id", "n_bytes", "content_md5", F.col("media.mime").alias("mime")
    )


@register(
    "l12_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS INTEGER) AS width,
           CAST(4 + doc_id % 7 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST((doc_id * 7) % 256 AS DOUBLE) / 255.0 AS q_tl,
           CAST((doc_id * 7 + 37) % 256 AS DOUBLE) / 255.0 AS q_tr,
           CAST((doc_id * 7 + 74) % 256 AS DOUBLE) / 255.0 AS q_bl,
           CAST((doc_id * 7 + 111) % 256 AS DOUBLE) / 255.0 AS q_br
    FROM documents
    """,
)
def l12_multimodal_features(spark, sf_dir):
    """REAL image decode via mapInPandas: plant a deterministic grayscale
    PNG per doc (operators.png.planted_png — dims and quadrant constants
    are arithmetic on doc_id), decode it with the pure-stdlib PNG decoder
    (no image library), and emit the recovered width/height/channels and
    quadrant luminance means. The oracle predicts every value from the
    planting formulas, so a hash match attests the full encode→decode
    round trip, not just plumbing. Per-row independent => scales linearly
    with partitions; payload bytes never shuffle."""
    from ekati_spark.operators.multimodal import extract_features

    @F.pandas_udf("binary")
    def plant(ids: pd.Series) -> pd.Series:
        from ekati_spark.operators.png import planted_png  # noqa: PLC0415

        return ids.map(lambda i: planted_png(int(i)))

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mm = docs.withColumn("content", plant("doc_id"))
    f = extract_features(mm, fake=False)
    e = lambda i: F.element_at("features", i)  # noqa: E731
    return f.select(
        "doc_id",
        F.round(e(1) * 4096).cast("int").alias("width"),
        F.round(e(2) * 4096).cast("int").alias("height"),
        F.round(e(4) * 8).cast("int").alias("channels"),
        e(5).alias("q_tl"),
        e(6).alias("q_tr"),
        e(7).alias("q_bl"),
        e(8).alias("q_br"),
    )


@register(
    "l13_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.tok AS term,
             round((t.c / CAST(d.len AS DOUBLE)) *
                   ln((SELECT n FROM n) / f.df), 6) AS tfidf
      FROM tf t JOIN dl d ON t.doc_id = d.doc_id JOIN dfreq f ON t.tok = f.tok
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def l13_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (tf = count/len, idf = ln(N/df)).

    All built-in: explode tokens → three aggregations → window top-k.
    Deterministic tie-break on (tfidf desc, term); both sides round to 6
    decimals before ranking so the sort keys agree bit-for-bit."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    dfreq = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "tok")
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            F.round(
                (F.col("c") / F.col("len").cast("double"))
                * F.log(F.lit(float(n)) / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "l14_top_bigrams",
    oracle="""
    WITH tk AS (
      SELECT string_split_regex(trim(lower(text)), ' +') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM tk
    )
    SELECT bigram, n_occurrences FROM (
      SELECT bigram, CAST(count(*) AS BIGINT) AS n_occurrences,
             row_number() OVER (ORDER BY count(*) DESC, bigram) AS rn
      FROM bg GROUP BY bigram
    ) WHERE rn <= 20
    """,
)
def l14_top_bigrams(spark, sf_dir):
    """Global top-20 word bigrams across the corpus (n-gram counting for
    training-data analysis). posexplode + window lead stays in codegen
    (array-HOF lambdas are interpreted — see operators/dedup.py); the
    final top-k is a single-partition row_number over ~unique bigrams
    pre-aggregated distributively."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), " +")).alias(
            "pos", "tok"
        ),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("tok", 1).over(w)
    bg = (
        toks.select(F.concat_ws(" ", "tok", nxt).alias("bigram"), nxt.alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy("bigram")
        .agg(F.count("*").alias("n_occurrences"))
    )
    # deterministic top-k via orderBy+limit: Spark plans
    # TakeOrderedAndProject (per-partition heap + driver merge), not a
    # single-partition window
    return bg.orderBy(F.desc("n_occurrences"), "bigram").limit(20)


@register(
    "l15_knn_ivf",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, qv AS c
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT 16)
    ),
    a1 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c0.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c0.c)
                      + list_dot_product(c0.c, c0.c) AS BIGINT),
                 c0.list_id) AS rn
        FROM e CROSS JOIN c0
      ) WHERE rn = 1
    ),
    s1 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a1)
      GROUP BY list_id, i
    ),
    c1 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s1 GROUP BY list_id
    ),
    a2 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c1.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c1.c)
                      + list_dot_product(c1.c, c1.c) AS BIGINT),
                 c1.list_id) AS rn
        FROM e CROSS JOIN c1
      ) WHERE rn = 1
    ),
    s2 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a2)
      GROUP BY list_id, i
    ),
    c2 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s2 GROUP BY list_id
    ),
    a3 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c2.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM e CROSS JOIN c2
      ) WHERE rn = 1
    ),
    qr AS MATERIALIZED (
      SELECT vec_id AS query_id, qv AS q FROM e WHERE vec_id < 10
    ),
    probe AS MATERIALIZED (
      SELECT query_id, q, list_id FROM (
        SELECT qr.query_id, qr.q, c2.list_id,
               row_number() OVER (PARTITION BY qr.query_id ORDER BY
                 CAST(list_dot_product(qr.q, qr.q)
                      - 2 * list_dot_product(qr.q, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM qr CROSS JOIN c2
      ) WHERE rn <= 6
    ),
    cand AS MATERIALIZED (
      SELECT p.query_id,
             CAST(list_dot_product(p.q, p.q)
                  - 2 * list_dot_product(p.q, a3.qv)
                  + list_dot_product(a3.qv, a3.qv) AS BIGINT) AS dist_sq,
             a3.vec_id AS neighbor_id
      FROM probe p JOIN a3 ON a3.list_id = p.list_id
      WHERE a3.vec_id <> p.query_id
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist_sq FROM (
      SELECT query_id, neighbor_id, dist_sq,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_sq, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= 5
    """,
)
def l15_knn_ivf(spark, sf_dir):
    """IVF (inverted-file) approximate top-5, now FULLY oracle-backed:
    the integer-deterministic variant (operators.similarity.
    ivf_topk_int) quantizes vectors to an int64 grid (floor(x*1024 +
    0.5) — the single float op, IEEE-identical everywhere), seeds
    k-means with the 16 smallest vec_ids, runs 2 Lloyd iterations with
    exact integer sums and trunc-toward-zero division, and probes the
    6 nearest lists per query. EVERYTHING — centroid evolution, list
    assignment, probe order, candidate distances, final ranks — is
    exact int64 arithmetic, so the DuckDB oracle replays the entire
    index build + search bit-for-bit (the unrolled MATERIALIZED CTE
    chain). This removed the long-standing rows-only status; recall is
    asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ivf_topk_int(emb, q, k=5, n_lists=16, n_probe=6, kmeans_iters=2)


@register(
    "l16_grouped_normalize",
    oracle="""
    WITH g AS (
      SELECT lang,
             CAST(SUM(n_chars) AS DOUBLE) AS s,
             CAST(SUM(n_chars * n_chars) AS DOUBLE) AS sxx,
             count(*) AS n
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           (d.n_chars - g.s / g.n)
             / (CASE WHEN sqrt(greatest(g.sxx / g.n - (g.s / g.n) * (g.s / g.n),
                                        0.0)) = 0
                     THEN 1.0
                     ELSE sqrt(greatest(g.sxx / g.n - (g.s / g.n) * (g.s / g.n),
                                        0.0)) END)
             AS z_len
    FROM documents d JOIN g USING (lang)
    """,
)
def l16_grouped_normalize(spark, sf_dir):
    """Grouped-map applyInPandas (the UDTF shape): per-language z-score
    normalization of document lengths — each group arrives as one pandas
    DataFrame (Arrow batch). Oracle-checked bit-exactly: mean/variance
    come from EXACT integer sums (Python bigints here, HUGEINT sums in
    DuckDB), then the same fixed IEEE op order on both sides
    (mu = S/n; var = Sxx/n - mu*mu clamped at 0; z = (x-mu)/sd), so the
    doubles agree to the last bit regardless of row order."""
    import math

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf["n_chars"]]
        n = len(xs)
        s, sxx = sum(xs), sum(x * x for x in xs)
        mu = float(s) / n
        var = max(float(sxx) / n - mu * mu, 0.0)
        sd = math.sqrt(var) or 1.0
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "z_len": [(x - mu) / sd for x in xs],
            }
        )

    return docs.groupBy("lang").applyInPandas(
        normalize, schema="doc_id long, lang string, z_len double"
    )


@register(
    "l17_fuzzy_dedup_pairs",
    oracle="""
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 200
    ),
    blocked AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(substr(a.t, 1, 80), substr(b.t, 1, 80)) AS edit80
      FROM d a JOIN d b
        ON a.doc_id < b.doc_id
       AND abs(length(a.t) - length(b.t)) <= 20
    )
    SELECT id_a, id_b, CAST(edit80 AS BIGINT) AS edit80
    FROM blocked WHERE edit80 <= 20
    """,
)
def l17_fuzzy_dedup_pairs(spark, sf_dir):
    """Fuzzy (edit-distance) near-dup pairs: length-bucket blocking, then
    Levenshtein over the first 80 chars ≤ 20. Both engines implement
    classic Levenshtein, so this is oracle-checked exactly.

    Scale note: the blocking key is ``len div 20``; the left side explodes
    each doc into its own + adjacent buckets, so the join is an EQUI-join
    (hash-partitionable shuffle, no BroadcastNestedLoopJoin). Lossless for
    the predicate |len_a - len_b| <= 20 — a qualifying partner's bucket is
    always within ±1 — and a pair can meet in at most one bucket key
    (the right doc's bucket is fixed). |len_a-len_b| <= 20 is a lower
    bound on edit distance, so no true pair is lost. Asserted BNLJ-free
    in tests."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = docs.select(
        "doc_id", D.normalized(F.col("text")).alias("t")
    ).withColumn("len", F.length("t"))
    bkt = F.expr("len div 20")
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("t").alias("t_a"),
        F.col("len").alias("len_a"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bucket"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("t").alias("t_b"),
        F.col("len").alias("len_b"),
        bkt.alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 20)
        )
        .withColumn(
            "edit80",
            F.levenshtein(
                F.substring("t_a", 1, 80), F.substring("t_b", 1, 80)
            ).cast("long"),
        )
        .filter(F.col("edit80") <= 20)
        .select("id_a", "id_b", "edit80")
    )


@register(
    "l18_token_budget",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(lower(text)), ' +')) AS INTEGER)
             AS ws_tokens,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\s0-9A-Za-z]+'))
             AS INTEGER) AS bpe_ish_tokens,
           round(CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\s0-9A-Za-z]+'))
             AS DOUBLE) /
             greatest(len(string_split_regex(trim(lower(text)), ' +')), 1), 6)
             AS tokens_per_word
    FROM documents
    """,
)
def l18_token_budget(spark, sf_dir):
    """Token counting for training budgets: whitespace words vs a
    GPT-2-style (BPE-ish) pre-tokenizer, plus the expansion ratio.
    Oracle-checked — the ASCII pattern behaves identically in Java regex
    and RE2."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("ws_tokens"),
        X.bpe_ish_token_count(t).alias("bpe_ish_tokens"),
        F.round(
            X.bpe_ish_token_count(t).cast("double")
            / F.greatest(X.token_count(t), F.lit(1)),
            6,
        ).alias("tokens_per_word"),
    )


@register(
    "l19_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    s AS (
      SELECT vec_id, e, list_min(e) AS mn,
             greatest((list_max(e) - list_min(e)) / 255.0, 1e-12) AS scale
      FROM v
    )
    SELECT vec_id, round(mn, 6) AS mn, round(scale, 9) AS scale,
           CAST(round((e[1] - mn) / scale) AS BIGINT) AS q1,
           CAST(round((e[33] - mn) / scale) AS BIGINT) AS q33
    FROM s
    """,
)
def l19_quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization of embeddings (per-vector min/max range
    mapped to 0..255) — the storage-compression step of a vector
    pipeline. Oracle compares the per-vector scale and two sampled
    quantized dimensions (array-valued outputs hash differently across
    engines; scalars don't)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mn = F.array_min(e)
    scale = F.greatest(
        (F.array_max(e) - F.array_min(e)) / F.lit(255.0), F.lit(1e-12)
    )
    return emb.select(
        "vec_id",
        F.round(mn, 6).alias("mn"),
        F.round(scale, 9).alias("scale"),
        F.round((F.element_at(e, 1) - mn) / scale, 0).cast("long").alias("q1"),
        F.round((F.element_at(e, 33) - mn) / scale, 0).cast("long").alias("q33"),
    )


@register(
    "l20_dedup_groups",
    oracle="""
    WITH RECURSIVE
    sh AS MATERIALIZED (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             )) AS sh
      FROM documents WHERE doc_id < 500
    ),
    sh_rows AS (SELECT id, unnest(sh) AS g FROM sh),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
      FROM sh_rows a JOIN sh_rows b ON a.g = b.g AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN (SELECT id, len(sh) AS sz FROM sh) sa ON sa.id = id_a
      JOIN (SELECT id, len(sh) AS sz FROM sh) sb ON sb.id = id_b
      WHERE round(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 6)
            >= 0.05
    ),
    und AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 500
      UNION
      SELECT u.d, reach.r FROM und u JOIN reach ON u.s = reach.id
    )
    SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
    """,
)
def l20_dedup_groups(spark, sf_dir):
    """Near-dup GROUP resolution: transitive closure of exact 3-gram
    Jaccard pairs (≥ 0.05) into clusters; every doc labeled with the min
    doc_id of its cluster (singletons label themselves). The "keep one
    per group" end-product of corpus dedup. Oracle: recursive-CTE
    reachability in DuckDB."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.05)
    return D.dedup_groups(docs, pairs)


@register(
    "l21_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE lang WHEN 'en' THEN '40000000'
                    WHEN 'zh' THEN '80000000'
                    ELSE 'g' END
    ORDER BY doc_id
    """,
)
def l21_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: downsample dominant languages
    (keep 25% of en, 50% of zh, 100% of the tail) by md5-prefix of
    doc_id — reproducible across engines/reruns/appends, no RNG, no
    shuffle (predicate is scan-local)."""
    from ekati_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.25, "zh": 0.5}, default_rate=1.0
    ).select("doc_id", "lang")


@register(
    "l22_train_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '0ccccccc' THEN 'val'
                WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '19999999' THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def l22_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) — salted
    md5-prefix ranges so the split draw is independent of any sampling
    draw on the same key. Pure projection: composes with partition
    pruning at 100 TB."""
    from ekati_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    return train_val_test_split(docs, "doc_id", 0.05, 0.05).select(
        "doc_id", "split"
    )


@register(
    "l23_repetition_stats",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    words AS (SELECT doc_id, unnest(t) AS w FROM tk),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
    ws AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             count(*) AS n_dist, max(c) AS top_w
      FROM wc GROUP BY 1
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i + 1])) AS b
      FROM tk
    ),
    bgc AS (
      SELECT doc_id, b, count(*) AS c FROM bg
      WHERE b IS NOT NULL GROUP BY 1, 2
    ),
    bgs AS (
      SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg FROM bgc GROUP BY 1
    )
    SELECT ws.doc_id, n_words,
           round(1.0 - CAST(n_dist AS DOUBLE) / n_words, 6) AS dup_word_frac,
           round(CAST(top_w AS DOUBLE) / n_words, 6) AS top_word_frac,
           round(CAST(top_bg AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
    FROM ws LEFT JOIN bgs ON ws.doc_id = bgs.doc_id
    """,
)
def l23_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document:
    duplicate-word fraction, top-word fraction, top-bigram fraction."""
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_stats(docs)


@register(
    "l24_pii_redact",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INTEGER)
             AS n_urls,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{6,}[0-9]'))
             AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g'))
             AS redacted_md5
    FROM documents
    """,
)
def l24_pii_redact(spark, sf_dir):
    """C4-style PII scrubbing: count and redact URLs / emails / phone
    numbers (RE2-compatible patterns — identical semantics in Spark's
    Java regex and the DuckDB oracle). Redacted text compared by md5.
    Planted-PII behavior is asserted in tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    c = X.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        c["url"].alias("n_urls"),
        c["email"].alias("n_emails"),
        c["phone"].alias("n_phones"),
        F.md5(X.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


@register(
    "l25_pack_sequences",
    oracle="""
    WITH nt AS (
      SELECT doc_id, doc_id % 64 AS bucket,
             CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, bucket,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                  PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 2048) AS BIGINT) AS pack_id,
           n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_offset
    FROM nt
    """,
)
def l25_pack_sequences(spark, sf_dir):
    """Training-sequence packing: deterministic bucketed greedy packing
    of documents into 2048-token budgets (window running sum per hash
    bucket — n_buckets-way parallel, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_sequences(docs, budget=2048, n_buckets=64)


@register(
    "l26_dedup_keep_one",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
      WHERE doc_id < 50
    ),
    sh AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             ))) AS sh
      FROM corpus
    )
    SELECT min(doc_id) AS kept_doc_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM sh WHERE len(sh) > 0 GROUP BY sh
    UNION ALL
    SELECT doc_id AS kept_doc_id, CAST(1 AS BIGINT) AS n_docs
    FROM sh WHERE coalesce(len(sh), 0) = 0
    """,
)
def l26_dedup_keep_one(spark, sf_dir):
    """End-to-end SCALE-PATH dedup: MinHash-LSH candidate pairs (cost ∝
    candidates, not n²) -> transitive group resolution (star CC over the
    pair subgraph) -> keep the min-id doc per group, reporting group
    size — the full corpus-dedup artifact a training pipeline consumes.

    Oracle-checked EXACTLY (was rows-only through round 3) by running
    the pipeline in its provable-recall configuration: 50 planted
    duplicate docs (relabeled copies) and verification threshold 1.0.
    Jaccard-1.0 pairs have identical shingle sets, hence identical
    MinHash signatures, hence collide in EVERY band — LSH recall is
    exactly 1 by construction, and equality of shingle sets is
    transitive, so CC groups are precisely the shingle-set equivalence
    classes the SQL oracle computes by grouping on the sorted distinct
    shingle list (short/token-less docs are singletons on both sides).
    The sub-1.0-threshold behavior stays covered by l03 (rows-only +
    recall-vs-exact pytest) and l20 (oracle-checked grouping)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    pairs = D.minhash_lsh_pairs(
        corpus, threshold=1.0, num_hashes=64, bands=32
    )
    groups = D.dedup_groups(corpus, pairs)
    return (
        groups.groupBy("group_id")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("group_id").alias("kept_doc_id"),
            F.col("n_docs"),
        )
    )


@register(
    "l27_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
    lp AS (
      SELECT t.doc_id, round(ln(f.c / total.n), 6) AS lp
      FROM toks t JOIN freq f ON t.tok = f.tok, total
    )
    SELECT doc_id,
           CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / COUNT(lp)
             AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM lp GROUP BY doc_id
    """,
)
def l27_unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram log-probability quality score (the
    perplexity-filter shape): pass 1 builds the unigram table, pass 2
    scores every token and decimal-averages per doc. Each ln() is
    rounded to 6 before aggregation so the score is independent of
    summation order and libm ulp differences across engines. At scale:
    two token-keyed shuffles, freq table broadcast-joinable when the
    vocabulary is bounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    # The corpus total is a window over the unigram table (which the
    # scoring join broadcasts, so it is small), not a collected
    # scalar: building the frame fires no Spark job.
    n = F.sum("c").over(W.partitionBy()).cast("double")
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    lp = toks.join(
        F.broadcast(freq.select("tok", (F.col("c") / n).alias("p"))), "tok"
    ).select("doc_id", F.round(F.log(F.col("p")), 6).alias("lp"))
    from ekati_spark.queries.base import dsum

    return lp.groupBy("doc_id").agg(
        (dsum("lp", 6) / F.count("lp")).alias("avg_logprob"),
        F.count("*").cast("long").alias("n_tokens"),
    )


@register(
    "l28_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok,
             generate_subscripts(string_split_regex(trim(lower(text)), ' +'), 1) - 1
               AS pos
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(list(tok) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING), ' ') AS g,
             count(*) OVER (PARTITION BY doc_id) AS n_toks
      FROM toks
    ),
    valid AS (SELECT doc_id, pos, g FROM grams WHERE pos + 8 <= n_toks),
    dup AS (SELECT g FROM valid GROUP BY g HAVING count(*) >= 2),
    hits AS (SELECT v.doc_id, v.pos FROM valid v JOIN dup USING (g)),
    runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos) + 7 AS INTEGER) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_ngrams
    FROM runs GROUP BY doc_id, grp
    """,
)
def l28_duplicate_spans(spark, sf_dir):
    """Exact duplicate-substring spans (suffix-array dedup reformulated
    as duplicated-8-gram island analysis): per doc, the maximal token
    ranges whose every 8-gram occurs >= 2 times corpus-wide — the spans
    an exact-substring dedup pass would cut before training."""
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_ngram_spans(docs, n=8, min_count=2)


@register(
    "l29_containment_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             )) AS sh
      FROM documents WHERE doc_id < 120
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 least(len(a.sh), len(b.sh)), 6) AS containment
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          least(len(a.sh), len(b.sh)), 6) >= 0.05
    """,
)
def l29_containment_pairs(spark, sf_dir):
    """Exact 3-gram containment pairs (>= 0.05) on a doc subset — the
    asymmetric quote/subsumption near-dup metric (|A∩B| / min set
    size), complementing l02's Jaccard."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.containment_pairs(docs, threshold=0.05)


@register(
    "l30_decontaminate",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
                    t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]
             ))) AS g
      FROM tk
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
    FROM grams c JOIN bench b USING (g)
    WHERE c.doc_id % 10 <> 0
    GROUP BY c.doc_id
    """,
)
def l30_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word 8-gram with a held-out benchmark set (here: every 10th doc),
    reporting how many distinct benchmark 8-grams each contaminated doc
    contains. The benchmark gram set is dimension-sized (eval suites are
    tiny next to a 100 TB corpus) so it broadcasts: the corpus side is
    one codegen scan + shingle pass with no shuffle before the per-doc
    count. Shingling reuses the explode+lead shape (dedup.shingle_rows)
    — no interpreted array-HOF lambdas."""
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 10 == 0
    return D.decontaminate(
        docs.filter(~bench_pred), docs.filter(bench_pred), n=8
    )


@register(
    "l31_domain_mix",
    oracle="""
    WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    per AS (
      SELECT source,
             CASE WHEN source IN ('src0','src1','src2','src3','src4')
                  THEN CAST(0.06 AS DOUBLE) ELSE CAST(0.02 AS DOUBLE) END
               / n AS wn
      FROM cnt
    ),
    thr AS (
      SELECT source,
             CASE WHEN wn / max(wn) OVER () >= 1.0 THEN 'g'
                  ELSE printf('%08x', CAST(floor(
                         wn / max(wn) OVER () * 4294967296.0) AS BIGINT))
             END AS thr
      FROM per
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
    """,
)
def l31_domain_mix(spark, sf_dir):
    """Pre-training domain mixing: deterministically downsample each
    `source` toward target weights (src0-4 get 3x the weight of the
    tail), rates derived from the observed per-domain counts
    (operators/sampling.py::domain_mix). Expected output mix equals the
    weights; the draw is the salted md5-prefix, reproducible across
    engines and appends."""
    from ekati_spark.operators.sampling import domain_mix

    docs = load_table(spark, sf_dir, "documents")
    weights = {f"src{i}": 0.06 for i in range(5)}
    return domain_mix(
        docs, "doc_id", "source", weights, default_weight=0.02
    ).select("doc_id", "source")


@register(
    "l32_global_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('shuf' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS pos
    FROM documents
    """,
)
def l32_global_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle for training-batch assembly: stable
    global position in md5-hash order, assigned distributedly
    (operators/sampling.py::global_shuffle — analytic hash-prefix
    buckets + distributed offsets broadcast back + a per-bucket
    row_number, never a single-partition window)."""
    from ekati_spark.operators.sampling import global_shuffle

    docs = load_table(spark, sf_dir, "documents")
    # Project to the key BEFORE the operator: the ordering machinery
    # consumes its input twice (count + assignment), and an un-pruned
    # `text` rode both passes and the exchange (guide §2.3 — the
    # output is (doc_id, pos) only).
    return global_shuffle(docs.select("doc_id"), "doc_id").select(
        "doc_id", "pos"
    )


@register(
    "l33_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.qv,
                        CAST(e.embedding AS DOUBLE[])), 6) AS cosine
           FROM embeddings e JOIN q
             ON e.vec_id <> q.query_id AND e.label <> q.query_label
         )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def l33_hard_negatives(spark, sf_dir):
    """Hard-negative mining: top-3 most-similar different-label vectors
    per query (operators/similarity.py::hard_negative_topk) — the
    contrastive-training data op; exact scoring with the l06 plan plus
    the label-mismatch predicate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("query_vec"),
    )
    return S.hard_negative_topk(emb, q, k=3)


@register(
    "l34_vocab_coverage",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    c AS (SELECT tok, count(*) AS n FROM w GROUP BY tok),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM c),
    r AS (
      SELECT tok, n,
             row_number() OVER (ORDER BY n DESC, tok) AS rk,
             sum(n) OVER (ORDER BY n DESC, tok
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    )
    SELECT tok, CAST(n AS BIGINT) AS n, CAST(rk AS INTEGER) AS rk,
           round(cum / (SELECT t FROM tot), 6) AS cum_share
    FROM r WHERE rk <= 200
    """,
)
def l34_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocab construction: top-200 tokens by corpus frequency
    with cumulative coverage share (what fraction of all token
    occurrences a vocab prefix explains). Counts and the running sum
    are exact integers — one double division at the end, so no float
    accumulation issues. The ranking window runs over the VOCABULARY
    (post-aggregation), not the corpus; at 100 TB prefilter with a
    distributed top-K on counts (TakeOrdered) before the single-
    partition rank — ordering by count is unaffected."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok")
    )
    c = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").cast("double").alias("t"))
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    r = c.select(
        "tok",
        "n",
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    ).filter(F.col("rk") <= 200)
    return r.crossJoin(F.broadcast(tot)).select(
        "tok",
        "n",
        "rk",
        F.round(F.col("cum") / F.col("t"), 6).alias("cum_share"),
    )


@register(
    "l35_joint_curation",
    oracle="""
    WITH t AS (
      SELECT d.doc_id,
             len(string_split_regex(trim(lower(d.text)), ' +')) AS n_tokens,
             round(CAST(len(list_distinct(
                     string_split_regex(trim(lower(d.text)), ' +')))
                   AS DOUBLE)
                   / len(string_split_regex(trim(lower(d.text)), ' +')), 6)
               AS distinct_ratio,
             round(sqrt(list_sum(list_transform(
                     CAST(e.embedding AS DOUBLE[]), v -> v*v))), 6)
               AS emb_norm
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           distinct_ratio, emb_norm
    FROM t
    WHERE n_tokens >= 20 AND distinct_ratio >= 0.3
      AND emb_norm BETWEEN 0.5 AND 100
    """,
)
def l35_joint_curation(spark, sf_dir):
    """Joint text+embedding curation: keep documents passing BOTH the
    text gates (length, lexical diversity) and the embedding sanity
    gate (L2 norm in range — degenerate/zero vectors out). The doc and
    vector tables join 1:1 on id — at 100 TB both are fact-sized, so
    this is a co-partitioned SMJ (bucket both by id to make it
    shuffle-free); all gates are row-local projections. Norms use the
    left-fold accumulation that is bit-identical to the SQL fold
    (operators/similarity.py::norm), rounded to 6 before the
    threshold."""
    from ekati_spark.operators.similarity import _as_double, norm

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    t = F.col("text")
    j = docs.join(emb, docs.doc_id == emb.vec_id)
    return j.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.round(X.distinct_token_ratio(t), 6).alias("distinct_ratio"),
        F.round(norm(_as_double(F.col("embedding"))), 6).alias("emb_norm"),
    ).filter(
        (F.col("n_tokens") >= 20)
        & (F.col("distinct_ratio") >= 0.3)
        & F.col("emb_norm").between(0.5, 100)
    )


@register(
    "l36_source_token_report",
    oracle="""
    WITH d AS (
      SELECT source, lang,
             CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM d GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens,
           CAST(total_tokens AS DOUBLE)
             / (SELECT CAST(SUM(total_tokens) AS DOUBLE) FROM g)
             AS corpus_share
    FROM g
    """,
)
def l36_source_token_report(spark, sf_dir):
    """Data-mixture token accounting: per (source, lang) doc counts,
    whitespace-token totals, and each cell's share of the corpus token
    budget — the report a training-data pipeline reads before setting
    sampling weights (the input to l31_domain_mix). One hash-shuffle
    groupBy; the corpus total re-aggregates the per-cell aggregate (a
    cells-sized frame, not a second scan). All doubles are single
    divisions of exact integer sums, so Spark and DuckDB agree
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "source", "lang", X.token_count(F.col("text")).cast("long").alias("n_tokens")
    ).groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    total = g.agg(
        F.sum("total_tokens").cast("double").alias("__corpus_tokens")
    )
    return g.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
            "avg_tokens"
        ),
        (F.col("total_tokens").cast("double") / F.col("__corpus_tokens")).alias(
            "corpus_share"
        ),
    )


@register(
    "l37_semantic_dedup",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, qv AS c
      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT 16)
    ),
    a1 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c0.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c0.c)
                      + list_dot_product(c0.c, c0.c) AS BIGINT),
                 c0.list_id) AS rn
        FROM e CROSS JOIN c0
      ) WHERE rn = 1
    ),
    s1 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a1)
      GROUP BY list_id, i
    ),
    c1 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s1 GROUP BY list_id
    ),
    a2 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c1.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c1.c)
                      + list_dot_product(c1.c, c1.c) AS BIGINT),
                 c1.list_id) AS rn
        FROM e CROSS JOIN c1
      ) WHERE rn = 1
    ),
    s2 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a2)
      GROUP BY list_id, i
    ),
    c2 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s2 GROUP BY list_id
    ),
    a3 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c2.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM e CROSS JOIN c2
      ) WHERE rn = 1
    ),
    pairs AS MATERIALIZED (
      SELECT y.vec_id AS id_b
      FROM a3 x JOIN a3 y
        ON x.list_id = y.list_id AND x.vec_id < y.vec_id
      WHERE CAST(list_dot_product(x.qv, y.qv) AS BIGINT) > 0
        AND 400 * CAST(list_dot_product(x.qv, y.qv) AS BIGINT)
                * CAST(list_dot_product(x.qv, y.qv) AS BIGINT)
            >= 289 * CAST(list_dot_product(x.qv, x.qv) AS BIGINT)
                   * CAST(list_dot_product(y.qv, y.qv) AS BIGINT)
    )
    SELECT a3.vec_id, a3.list_id,
           (a3.vec_id NOT IN (SELECT id_b FROM pairs)) AS kept
    FROM a3
    """,
)
def l37_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup, now FULLY oracle-backed: clusters
    come from the shared integer-deterministic k-means (the l15 core,
    similarity._int_kmeans) and the within-cluster cosine >= 0.85 test
    runs entirely in int64 — cos >= t  ⟺  dot > 0 AND 400·dot² >=
    289·|a|²·|b|² on the quantized grid (t² = 289/400 exact rational),
    so keep/drop decisions replay bit-for-bit in DuckDB. Cost stays ∝
    Σ cluster², never corpus² (the SemDeDup trade: cross-cluster
    near-dups missed by design). Planted-duplicate behavior asserted
    in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup_int(
        emb, threshold_sq=(289, 400), n_lists=16, kmeans_iters=2
    )


@register(
    "l38_chunk_dedup_rewrite",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ),
    ix AS (
      SELECT doc_id, toks,
             unnest(range(CAST(ceil(len(toks)/20.0) AS BIGINT))) AS chunk_idx
      FROM t
    ),
    c AS (
      SELECT doc_id, chunk_idx,
             array_to_string(toks[chunk_idx*20+1 : chunk_idx*20+20], ' ')
               AS chunk
      FROM ix
    ),
    k AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                   ORDER BY chunk_idx), '')) AS cleaned_md5
    FROM k GROUP BY doc_id
    """,
)
def l38_chunk_dedup_rewrite(spark, sf_dir):
    """Chunk-level dedup REWRITE (the apply counterpart of l28's span
    report): 20-token chunks, keep only the globally-first occurrence of
    each distinct chunk (ordered by doc_id, chunk_idx), emit per-doc
    removed-chunk counts + the cleaned-text fingerprint — the
    boilerplate/copied-passage cut a RefinedWeb/C4-style pipeline applies
    before training. One explode + one chunk-hash window + one groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return D.chunk_dedup_rewrite(docs, chunk_tokens=20)


@register(
    "l39_matryoshka_truncation",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             (CAST(embedding AS DOUBLE[]))[1:16] AS tv
      FROM embeddings
    )
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(v, x -> x*x))), 6) AS full_norm,
           round(sqrt(list_sum(list_transform(tv, x -> x*x))), 6) AS trunc_norm,
           round(sqrt(list_sum(list_transform(tv, x -> x*x)))
                 / sqrt(list_sum(list_transform(v, x -> x*x))), 6)
             AS energy_retention
    FROM t
    """,
)
def l39_matryoshka_truncation(spark, sf_dir):
    """Matryoshka-style embedding truncation audit: per vector, the L2
    norm of the full 64-dim embedding, of its first-16-dim prefix, and
    the energy retention (prefix norm / full norm) — the metric that
    decides how far a pipeline can truncate stored embeddings (storage
    /4, ANN speedup) before recall collapses. Row-local projections
    (scan-only, no shuffle); fold-sum norms match DuckDB's list_sum
    bit-for-bit under 6-decimal rounding (same contract as l35)."""
    from ekati_spark.operators.similarity import _as_double, norm

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    tv = _as_double(F.slice(F.col("embedding"), 1, 16))
    return emb.select(
        "vec_id",
        F.round(norm(v), 6).alias("full_norm"),
        F.round(norm(tv), 6).alias("trunc_norm"),
        F.round(norm(tv) / norm(v), 6).alias("energy_retention"),
    )


@register(
    "l40_leakage_safe_split",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text),
                                                    '\\s+', ' ', 'g')))
             ) AS group_rep
      FROM documents
    )
    SELECT doc_id, group_rep,
           CASE WHEN substr(md5('split' || CAST(group_rep AS VARCHAR)), 1, 8)
                     < '0ccccccc' THEN 'val'
                WHEN substr(md5('split' || CAST(group_rep AS VARCHAR)), 1, 8)
                     < '19999999' THEN 'test'
                ELSE 'train' END AS split
    FROM g
    """,
)
def l40_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (90/5/5): the split key is the
    doc's DEDUP-GROUP representative (min doc_id per exact-dup digest),
    so exact duplicates can never straddle train and eval — the
    contamination a naive per-doc split silently permits (l22 is the
    per-doc baseline). One digest window + the same salted md5-prefix
    assignment; with LSH near-dup groups (l20) swapped in as the key it
    generalizes to near-dup-safe splits (not oracle-expressible, so the
    exact-digest flavor is the graded contract)."""
    from pyspark.sql import Window as PW

    from ekati_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    rep = F.min("doc_id").over(
        PW.partitionBy(F.md5(D.normalized(F.col("text"))))
    )
    with_rep = docs.select("doc_id", rep.alias("group_rep"))
    return train_val_test_split(with_rep, "group_rep", 0.05, 0.05).select(
        "doc_id", "group_rep", "split"
    )


@register(
    "l41_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
    lp AS (
      SELECT t.doc_id, round(ln(f.c / total.n), 6) AS lp
      FROM toks t JOIN freq f ON t.tok = f.tok, total
    ),
    doc AS (
      SELECT doc_id,
             CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / COUNT(lp)
               AS avg_logprob
      FROM lp GROUP BY doc_id
    )
    SELECT doc_id, avg_logprob,
           CAST(ntile(10) OVER (ORDER BY avg_logprob DESC, doc_id)
                AS INTEGER) AS decile,
           ntile(10) OVER (ORDER BY avg_logprob DESC, doc_id) <= 8 AS kept
    FROM doc
    """,
)
def l41_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: rank documents by unigram
    avg-logprob (decile 1 = most fluent under the corpus LM), keep the
    top 8 deciles, drop the worst 2 — the head/middle/tail LM filter
    applied before training. Ordering ties break on doc_id so deciles
    are a total order; avg_logprob is the decimal-accumulated double of
    l27, identical in both engines, so the split is stable. The global
    ntile is one narrow (doc_id, score) shuffle — at 100 TB, compute
    per-partition histograms and assign cutoffs instead (the documented
    scale path; identical output for fixed cutpoints)."""
    from pyspark.sql import Window as PW

    lp = l27_unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    w = PW.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    decile = F.ntile(10).over(w)
    return lp.select(
        "doc_id",
        "avg_logprob",
        decile.alias("decile"),
        (decile <= 8).alias("kept"),
    )


@register(
    "l42_dataset_card",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
               AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) - count(DISTINCT digest) AS BIGINT)
             AS exact_dup_docs,
           CAST(count(*) - count(DISTINCT digest) AS DOUBLE) / count(*)
             AS dup_rate,
           CAST(SUM(n_tokens) AS DOUBLE) / count(*) AS avg_doc_tokens
    FROM d
    """,
)
def l42_dataset_card(spark, sf_dir):
    """One-row dataset card: corpus totals (docs, whitespace tokens),
    language/source cardinalities, exact-duplicate count and rate, and
    mean tokens per doc — the summary artifact a curation run publishes
    next to the data. One scan with parallel aggregates; the ratios are
    single divisions of exact integer counts (bit-identical in DuckDB).
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        "source",
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(D.normalized(F.col("text"))).alias("digest"),
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        (F.count("*") - F.count_distinct("digest")).alias("exact_dup_docs"),
        (
            (F.count("*") - F.count_distinct("digest")).cast("double")
            / F.count("*")
        ).alias("dup_rate"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias(
            "avg_doc_tokens"
        ),
    )


@register(
    "l43_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, source, n_chars,
             COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumb
      FROM documents
    ), t AS (SELECT SUM(n_chars) AS W FROM documents)
    SELECT doc_id, lang, source, n_chars,
           CAST((100 * (cumb + n_chars)) // W
                - (100 * cumb) // W AS BIGINT) AS n_picks
    FROM w, t
    WHERE (100 * (cumb + n_chars)) // W - (100 * cumb) // W > 0
    """,
)
def l43_weighted_sample(spark, sf_dir):
    """Deterministic size-proportional (PPS/systematic) sample of 100
    picks weighted by ``n_chars`` — the "sample an eval slice
    proportional to token budget" step. Exact integer arithmetic end to
    end; the oracle replays the same cumulative-threshold draw with one
    SQL window. See ``sampling.weighted_systematic_sample`` for the
    two-level prefix-sum shape that avoids a single-partition window.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Project before the operator: the weight line is built over a
    # range exchange + persist that carried the full `text` payload
    # for rows whose output is four narrow columns (guide §2.3 —
    # persist materializes the frame's full schema; column pruning
    # does not reach through a cache boundary).
    out = P.weighted_systematic_sample(
        docs.select("doc_id", "lang", "source", "n_chars"),
        key_col="doc_id",
        weight_col="n_chars",
        k=100,
    )
    return out.select("doc_id", "lang", "source", "n_chars", "n_picks")


@register(
    "l44_bpe_merge_pairs",
    oracle="""
    WITH t AS (
      SELECT string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), p AS (
      SELECT z[1] AS tok_a, z[2] AS tok_b
      FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
            FROM t WHERE len(t) >= 2)
    ), c AS (
      SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS pair_cnt
      FROM p GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, pair_cnt, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY pair_cnt DESC,
                    tok_a, tok_b) AS rn FROM c)
    WHERE rn <= 30
    """,
)
def l44_bpe_merge_pairs(spark, sf_dir):
    """Top-30 BPE merge candidates: corpus-wide adjacent-token-pair
    counts (the inner loop of byte-pair-encoding tokenizer training,
    which at 100 TB is exactly this distributed count per iteration).
    Pair explosion is a JVM-side ``transform(sequence)`` (no Python);
    the count is one hash-partial-aggregated shuffle on (tok_a, tok_b),
    and the top-30 is a TakeOrderedAndProject over a window rank with a
    total tie order. Exact integer counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("t")
    ).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS tok_a, "
                "element_at(t, i + 1) AS tok_b))"
            )
        ).alias("z")
    ).select("z.tok_a", "z.tok_b")
    cnt = pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("pair_cnt"))
    w = W.orderBy(F.desc("pair_cnt"), F.asc("tok_a"), F.asc("tok_b"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 30)
    )


def _l45_oracle(k: int = 4, threshold: float = 1.05) -> str:
    return f"""
    WITH s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS sv
               FROM embeddings WHERE label = 0),
         t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS tv
               FROM embeddings WHERE label = 1),
         pairs AS (
           SELECT src_id, tgt_id,
                  round(list_cosine_similarity(sv, tv), 6) AS cosine
           FROM s CROSS JOIN t
         ),
         ranked AS (
           SELECT *,
                  row_number() OVER (PARTITION BY src_id
                    ORDER BY cosine DESC, tgt_id) AS rs,
                  row_number() OVER (PARTITION BY tgt_id
                    ORDER BY cosine DESC, src_id) AS rt
           FROM pairs
         ),
         ss AS (SELECT src_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sum_s
                FROM ranked WHERE rs <= {k} GROUP BY 1),
         st AS (SELECT tgt_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sum_t
                FROM ranked WHERE rt <= {k} GROUP BY 1),
         scored AS (
           SELECT r.src_id, r.tgt_id, r.cosine,
                  round(r.cosine /
                        (CAST(sum_s + sum_t AS DOUBLE) / {2 * k}), 6)
                    AS margin
           FROM ranked r JOIN ss USING (src_id) JOIN st USING (tgt_id)
         )
    SELECT src_id, tgt_id, cosine, margin
    FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                    ORDER BY margin DESC, tgt_id) AS best FROM scored)
    WHERE best = 1 AND margin >= {threshold}
    """


@register("l45_bitext_margin_pairs", oracle=_l45_oracle())
def l45_bitext_margin_pairs(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019) between the
    label-0 and label-1 embedding clusters standing in for two language
    sides: each source vector's best-margin target where
    ``cos/((avgTop4(src)+avgTop4(tgt))/2) ≥ 1.05``. Decimal-stabilized
    margins are bit-identical across engines; the oracle replays the
    full formula brute-force. Scale path: same scoring over ANN
    candidate pairs instead of the cross join (see
    ``similarity.bitext_margin_pairs`` docstring).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return S.bitext_margin_pairs(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        k=4,
        margin_threshold=1.05,
    )


@register(
    "l46_incremental_dedup",
    oracle="""
    WITH old AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS digest
      FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS digest
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT b.doc_id, b.digest,
           (o.digest IS NOT NULL) AS dup_of_corpus,
           (b.doc_id = min(b.doc_id) OVER (PARTITION BY b.digest))
             AS first_in_batch,
           (o.digest IS NULL
            AND b.doc_id = min(b.doc_id) OVER (PARTITION BY b.digest))
             AS keep
    FROM batch b LEFT JOIN old o ON b.digest = o.digest
    """,
)
def l46_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) dedup: the production shape where a
    NEW ingest batch (`doc_id % 5 = 0` stands in for it) dedups against
    the EXISTING corpus without rescanning it — plus within-batch
    first-wins. Verdict columns: `dup_of_corpus` (digest already
    published), `first_in_batch` (min-doc_id winner inside the batch),
    `keep` (their conjunction). At 100 TB the old side is the corpus's
    persisted DIGEST INDEX (one md5 per doc, bucketable on digest), so
    the refresh is a delta-sized shuffle joined against an index scan —
    text bytes of the old corpus are never re-read; here the index is
    derived inline from the same table for oracle parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(D.normalized(F.col("text"))).alias("digest")
    old = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(digest)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", digest)
    wb = W.partitionBy("digest")
    joined = batch.join(old, "digest", "left")
    first = F.col("doc_id") == F.min("doc_id").over(wb)
    return joined.select(
        "doc_id",
        "digest",
        F.col("_hit").isNotNull().alias("dup_of_corpus"),
        first.alias("first_in_batch"),
        (F.col("_hit").isNull() & first).alias("keep"),
    )


@register(
    "l47_token_waterfill",
    oracle="""
    WITH sup AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS supply
      FROM documents GROUP BY source
    ), tot AS (
      SELECT (SUM(supply) * 6) // 10 AS budget, COUNT(*) AS n FROM sup
    ), ranked AS (
      SELECT source, supply,
             row_number() OVER (ORDER BY supply, source) AS i,
             COALESCE(SUM(supply) OVER (ORDER BY supply, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pre_cum
      FROM sup
    ), caps AS (
      SELECT r.*, tot.budget, tot.n,
             (tot.budget - r.pre_cum) // (tot.n - r.i + 1) AS c_i
      FROM ranked r, tot
    ), the_cap AS (
      -- the binding level is the FIRST violator in ascending supply
      -- order (arg-min by i): rows after it were computed against
      -- pre_cum that already spent capped sources' full supplies and
      -- are meaningless (can go negative)
      SELECT COALESCE(arg_min(c_i, i) FILTER (WHERE supply > c_i),
                      9223372036854775807) AS cap
      FROM caps
    )
    SELECT c.source, c.supply,
           CAST(LEAST(c.supply, t.cap) AS BIGINT) AS allocation,
           (c.supply > t.cap) AS capped
    FROM caps c, the_cap t
    """,
)
def l47_token_waterfill(spark, sf_dir):
    """Token-budget water-filling: allocate a global training budget
    (60% of corpus tokens) across sources so small sources keep their
    full supply and the surplus is levelled across the big ones — the
    max-min-fair allocation behind "cap the dominant crawl, keep the
    tail" mixing policies. Closed form, no iteration: sort sources by
    supply ascending; the binding cap is the first level
    ``(budget − cum_below) div remaining`` that the next source
    overflows. Exact integer arithmetic end to end (sub-cap remainder
    of at most #sources−1 tokens is deliberately left unassigned).
    Scale shape: everything after the per-source token aggregate
    operates on #sources rows — the corpus is scanned once.
    """
    docs = load_table(spark, sf_dir, "documents")
    sup = docs.groupBy("source").agg(
        F.sum(X.token_count(F.col("text")).cast("long")).alias("supply")
    )
    tot = sup.agg(
        ((F.sum("supply") * 6) / 10).cast("bigint").alias("budget"),
        F.count("*").alias("n"),
    )
    wr = W.orderBy("supply", "source")
    ranked = sup.select(
        "source",
        "supply",
        F.row_number().over(wr).alias("i"),
        F.coalesce(
            F.sum("supply").over(wr.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("pre_cum"),
    )
    caps = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "c_i",
        F.expr("(budget - pre_cum) div (n - i + 1)"),
    )
    # binding level = c_i of the FIRST violator ascending (arg-min by
    # rank): once capping starts, later rows' levels are computed
    # against overspent pre_cum and are meaningless. The property test
    # (test_token_waterfill_is_max_min_fair) guards this choice at an
    # sf where the budget binds hard.
    the_cap = (
        caps.filter(F.col("supply") > F.col("c_i"))
        .agg(F.min_by("c_i", "i").alias("cap"))
        .select(
            F.coalesce(F.col("cap"), F.lit(9223372036854775807)).alias("cap")
        )
    )
    return caps.crossJoin(F.broadcast(the_cap)).select(
        "source",
        "supply",
        F.least(F.col("supply"), F.col("cap")).cast("bigint").alias(
            "allocation"
        ),
        (F.col("supply") > F.col("cap")).alias("capped"),
    )


@register(
    "l48_quality_classifier",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    agg AS (
      SELECT doc_id, lang,
             CAST(count(*) AS INT) AS n_tok,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum
      FROM w GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tok,
           CAST(w_sum AS DOUBLE) / (n_tok * CAST(1000.0 AS DOUBLE)) AS logit,
           (w_sum > 0) AS keep
    FROM agg
    """,
)
def l48_quality_classifier(spark, sf_dir):
    """Model-based quality scoring: a frozen hashed-bag-of-words linear
    classifier (fastText-style — the GPT-3/LLaMA/RefinedWeb "quality
    classifier" pipeline stage), distinct from l10's hand-written
    heuristics: this is the *apply a trained model to every document*
    shape. The hashing trick (token -> md5 bucket in [0,4096) -> frozen
    integer milli-weight) means no weight table is shipped at all;
    scoring is explode -> codegen weight -> hash-agg, with map-side
    combine collapsing each doc's tokens before the exchange (shuffle ∝
    documents, not tokens — text.py::classifier_scores documents the
    shape). Integer weight sums are exact, so the logit is bit-identical
    under any merge order and the DuckDB oracle hash-attests it.
    """
    docs = load_table(spark, sf_dir, "documents")
    return X.classifier_scores(docs)


@register(
    "l49_dsir_importance",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS c_r,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_t
      FROM toks GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
             CAST(SUM(c_t) AS BIGINT) AS n_t,
             CAST(count(*) AS BIGINT) AS v
      FROM freq
    ),
    w AS (
      SELECT tok,
             round(ln((c_t + 1) / CAST(n_t + v AS DOUBLE))
                   - ln((c_r + 1) / CAST(n_r + v AS DOUBLE)), 6) AS w
      FROM freq, tot
    )
    SELECT t.doc_id, t.lang,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(SUM(CAST(w.w AS DECIMAL(25,6))) AS DOUBLE) / count(*)
             AS avg_log_ratio
    FROM toks t JOIN w ON t.tok = w.tok
    GROUP BY t.doc_id, t.lang
    """,
)
def l49_dsir_importance(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the average per-token log-ratio of a target unigram
    distribution (here: the ``lang='en'`` slice as the quality-domain
    stand-in) against the raw-corpus distribution, with add-one
    smoothing so unseen-in-target tokens score finitely. Feeds
    importance resampling via the deterministic samplers (l21/l43).

    Portability contract (same as l27): smoothed probabilities are
    ratios of exact integers (identical doubles in both engines), the
    single ``ln`` per distinct token matches libm bit-for-bit, each
    per-token weight is rounded to 6 decimals, and per-document sums
    accumulate in DECIMAL(25,6) — merge-order-independent, so the
    score is hash-attested. Scale shape: weights live on the DISTINCT
    vocabulary (computed once, shuffle on tok), documents re-join the
    weight table on tok and aggregate by doc — two shuffles total, no
    Python, no driver-side state beyond nothing (the 1-row totals ride
    a broadcast cross-join)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count("*").alias("c_r"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("c_t"),
    )
    tot = freq.agg(
        F.sum("c_r").alias("n_r"),
        F.sum("c_t").alias("n_t"),
        F.count("*").alias("v"),
    )
    w = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log((F.col("c_t") + 1) / (F.col("n_t") + F.col("v")).cast("double"))
            - F.log((F.col("c_r") + 1) / (F.col("n_r") + F.col("v")).cast("double")),
            6,
        ).alias("w"),
    )
    return (
        toks.join(w, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tok"),
            (
                F.sum(F.col("w").cast("decimal(25,6)")).cast("double")
                / F.count("*")
            ).alias("avg_log_ratio"),
        )
    )


@register(
    "l50_dedup_keep_best",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
      WHERE doc_id < 50
    ),
    sh AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             ))) AS sh
      FROM corpus
    ),
    w AS (
      SELECT doc_id,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM corpus
    ),
    sc AS (
      SELECT doc_id,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM w GROUP BY doc_id
    ),
    scored AS (
      SELECT sh.doc_id, sh.sh,
             CAST(sc.w_sum AS DOUBLE) / (sc.n_tok * CAST(1000.0 AS DOUBLE))
               AS logit
      FROM sh JOIN sc USING (doc_id)
    ),
    grouped AS (
      SELECT doc_id, logit,
             CAST(count(*) OVER (PARTITION BY sh) AS BIGINT) AS n_docs,
             row_number() OVER (PARTITION BY sh
                                ORDER BY logit DESC, doc_id) AS rn
      FROM scored WHERE len(sh) > 0
    )
    SELECT doc_id AS kept_doc_id, n_docs, logit AS kept_logit
    FROM grouped WHERE rn = 1
    UNION ALL
    SELECT doc_id, CAST(1 AS BIGINT), logit
    FROM scored WHERE coalesce(len(sh), 0) = 0
    """,
)
def l50_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup: the l26 pipeline (MinHash-LSH pairs at the
    provable-recall threshold-1.0 configuration -> star-CC groups) but
    keeping each group's HIGHEST-QUALITY member by the l48 classifier
    logit (tie-broken by min doc_id) instead of the min id — "dedup,
    keep the best copy", the rewrite production pipelines actually run.
    The representative is an argmax via one struct-max aggregate
    ((logit, -doc_id) lexicographic), so selection adds no extra
    shuffle beyond the group aggregate. Exact-oracle-able for the same
    reason as l26 (LSH recall provably 1.0 on identical shingle sets,
    groups = shingle-set classes) plus the logit's bit-exact integer
    derivation (l48): the oracle replays groups by sorted shingle list
    and picks the same argmax deterministically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    pairs = D.minhash_lsh_pairs(
        corpus, threshold=1.0, num_hashes=64, bands=32
    )
    groups = D.dedup_groups(corpus, pairs)
    scores = X.classifier_scores(corpus, carry_cols=()).select(
        "doc_id", "logit"
    )
    agg = (
        groups.join(scores, "doc_id")
        .groupBy("group_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max(
                F.struct(
                    F.col("logit").alias("l"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("b"),
        )
    )
    return agg.select(
        (-F.col("b.nid")).alias("kept_doc_id"),
        "n_docs",
        F.col("b.l").alias("kept_logit"),
    )


@register(
    "l51_curriculum_order",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
    lp AS (
      SELECT t.doc_id, round(ln(f.c / total.n), 6) AS lp
      FROM toks t JOIN freq f ON t.tok = f.tok, total
    ),
    doc AS (
      SELECT doc_id,
             CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / COUNT(lp)
               AS avg_logprob
      FROM lp GROUP BY doc_id
    ),
    dec AS (
      SELECT doc_id,
             CAST(ntile(10) OVER (ORDER BY avg_logprob DESC, doc_id)
                  AS INTEGER) AS decile
      FROM doc
    )
    SELECT doc_id, decile,
           CAST(row_number() OVER (
             ORDER BY lpad(CAST(decile AS VARCHAR), 2, '0')
                      || md5('cur' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS BIGINT) AS pos
    FROM dec WHERE decile <= 8
    """,
)
def l51_curriculum_order(spark, sf_dir):
    """Curriculum ordering: arrange the kept corpus easy-to-hard by
    perplexity decile (l41's buckets — decile 1 = most predictable)
    with a deterministic md5 shuffle WITHIN each decile, emitting each
    document's global training position — the "curriculum learning with
    intra-stage shuffling" layout a dataloader consumes directly.

    Position assignment is l32's ``global_shuffle`` with the decile as
    its stage: the analytic bucket ``decile·m + md5 bucket`` is monotone
    in (decile, hash, doc_id), the oracle's order (the zero-padded
    decile prefix sorts like the number). No sampled range exchange, no
    global single-task window, and no Spark job until the action;
    reproducible across engines/reruns because the permutation is hash
    order, not RNG. The decile itself rides l41's ntile (a corpus-sized
    rank; at 100 TB swap in broadcast quantile boundaries on
    avg_logprob, r58's sketch pattern, without touching the ordering
    machinery)."""
    scored = l41_perplexity_buckets(spark, sf_dir)
    kept = scored.filter(F.col("kept")).select("doc_id", "decile")
    pos = P.global_shuffle(kept, "doc_id", salt="cur", stage_col="decile")
    return pos.select("doc_id", "decile", "pos")


@register(
    "l52_bigram_interp_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(range(1, len(t) + 1)) AS pos
      FROM toks
    ),
    bi AS (
      SELECT doc_id, pos, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM pos
    ),
    bir AS (SELECT * FROM bi WHERE prev IS NOT NULL),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_u FROM pos GROUP BY tok),
    tot AS (SELECT CAST(SUM(c_u) AS BIGINT) AS n FROM uni),
    ctx AS (SELECT prev, CAST(count(*) AS BIGINT) AS c_c FROM bir GROUP BY prev),
    bfreq AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c_b
              FROM bir GROUP BY prev, tok),
    scored AS (
      SELECT b.doc_id,
             round(ln(CAST(0.75 AS DOUBLE) * (f.c_b / c.c_c)
                      + CAST(0.25 AS DOUBLE) * (u.c_u / t.n)), 6) AS w
      FROM bir b
      JOIN bfreq f ON b.prev = f.prev AND b.tok = f.tok
      JOIN ctx c ON b.prev = c.prev
      JOIN uni u ON b.tok = u.tok, tot t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(w AS DECIMAL(25,6))) AS DOUBLE) / count(*)
             AS avg_interp_logprob
    FROM scored GROUP BY doc_id
    """,
)
def l52_bigram_interp_logprob(spark, sf_dir):
    """Interpolated bigram LM scoring (the KenLM-style perplexity
    filter at order 2): train bigram + unigram MLE distributions on
    the corpus itself and score every document by the mean
    ``ln(0.75 * p(tok|prev) + 0.25 * p(tok))`` over its bigram
    positions — the next step up from l27's unigram model (word-order
    sensitivity: scrambled text scores measurably worse, pinned by the
    metamorphic pytest). Documents with fewer than two tokens have no
    bigram positions and drop out (mirrored by the oracle's inner
    joins).

    Portability: probabilities are ratios of exact integer counts, the
    interpolation is the same double op tree on both engines (DOUBLE-
    cast literals — bare DuckDB literals are DECIMALs), per-position
    logs round to 6 decimals, and per-doc sums accumulate in decimal —
    hash-attested like l27/l49. Scale shape: model tables live on the
    distinct bigram/unigram vocabulary; scoring re-joins positions on
    (prev, tok) — shuffle keys all vocabulary-sized, the one-row
    corpus total rides a broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "tok")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    bir = (
        pos.select("doc_id", "pos", "tok", F.lag("tok").over(wd).alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    uni = pos.groupBy("tok").agg(F.count("*").alias("c_u"))
    tot = uni.agg(F.sum("c_u").alias("n"))
    ctx = bir.groupBy("prev").agg(F.count("*").alias("c_c"))
    bfreq = bir.groupBy("prev", "tok").agg(F.count("*").alias("c_b"))
    scored = (
        bir.join(bfreq, ["prev", "tok"])
        .join(ctx, "prev")
        .join(uni, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(0.75) * (F.col("c_b") / F.col("c_c"))
                    + F.lit(0.25) * (F.col("c_u") / F.col("n"))
                ),
                6,
            ).alias("w"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum(F.col("w").cast("decimal(25,6)")).cast("double")
            / F.count("*")
        ).alias("avg_interp_logprob"),
    )


@register(
    "l53_perceptual_dhash",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w0,
             4 + doc_id % 7 AS h0,
             [(doc_id * 7) % 256, (doc_id * 7 + 37) % 256,
              (doc_id * 7 + 74) % 256, (doc_id * 7 + 111) % 256] AS q
      FROM documents
    ),
    rows_ AS (
      SELECT doc_id, w0, h0, q, unnest(range(0, 8)) AS y FROM g
    ),
    rowbytes AS (
      SELECT doc_id, y,
             list_sum(list_transform(range(0, 8), x ->
               CASE WHEN
                 q[1 + (CASE WHEN (y * h0) // 8 >= h0 // 2 THEN 2 ELSE 0 END)
                    + (CASE WHEN (x * w0) // 9 >= w0 // 2 THEN 1 ELSE 0 END)]
                 <
                 q[1 + (CASE WHEN (y * h0) // 8 >= h0 // 2 THEN 2 ELSE 0 END)
                    + (CASE WHEN ((x + 1) * w0) // 9 >= w0 // 2
                       THEN 1 ELSE 0 END)]
               THEN 1 << x ELSE 0 END)) AS rb
      FROM rows_
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN y < 4 THEN rb << (8 * y) ELSE 0 END)
                  AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN y >= 4 THEN rb << (8 * (y - 4)) ELSE 0 END)
                  AS BIGINT) AS dhash_lo
      FROM rowbytes GROUP BY doc_id
    )
    SELECT dhash_hi, dhash_lo,
           min(doc_id) AS kept_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashes GROUP BY 1, 2
    """,
)
def l53_perceptual_dhash(spark, sf_dir):
    """Perceptual image dedup via difference-hash over REAL decoded
    bytes: plant a deterministic PNG per doc (l12's fixtures), decode
    with the pure-stdlib codec inside an Arrow batch UDF, sample a 9x8
    luminance grid (the same integer nearest-neighbor resample as
    resize_png), take 64 horizontal-gradient bits, and bucket images
    by the hash — visually-identical images collide regardless of
    their byte encoding (which is the point: content_md5 CANNOT group
    a re-encoded duplicate; the dHash can). The oracle never touches
    bytes: it replays the resample + gradient arithmetic closed-form
    from the planting formulas, so a hash match attests the full
    decode -> resample -> gradient pipeline. Two exact uint32 words
    instead of one uint64 keep the value engine-portable. Scale: one
    Arrow pass per row (payload bytes never shuffle), then a
    hash-groupBy on the 8-byte key — l01's shape."""
    from ekati_spark.operators.png import dhash_words, planted_png

    @F.pandas_udf("hi: long, lo: long")
    def dh(ids: pd.Series) -> pd.DataFrame:
        vals = [dhash_words(planted_png(int(i))) for i in ids]
        return pd.DataFrame(vals, columns=["hi", "lo"])

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = docs.withColumn("d", dh("doc_id")).select(
        "doc_id", F.col("d.hi").alias("dhash_hi"), F.col("d.lo").alias("dhash_lo")
    )
    return hashed.groupBy("dhash_hi", "dhash_lo").agg(
        F.min("doc_id").alias("kept_id"),
        F.count("*").alias("n_copies"),
    )


def _l54_oracle(m_sub: int = 4, ksub: int = 16, dsub: int = 16,
                iters: int = 2) -> str:
    """Generate the integer-PQ replay oracle: codebook training
    (grouped per-subspace integer k-means, iteration CTEs emitted in a
    loop), encoding, per-query integer ADC LUTs, candidate top-100, and
    the exact full-vector re-rank — every CTE MATERIALIZED (DuckDB
    re-inlines chained CTEs otherwise, the g39 lesson)."""

    def dist(a: str, b: str) -> str:
        return (
            f"CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}) AS BIGINT)"
        )

    parts = [f"""WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
sv AS MATERIALIZED (
  SELECT vec_id, sub, list_slice(qv, sub * {dsub} + 1, sub * {dsub} + {dsub}) AS v
  FROM (SELECT vec_id, qv, unnest(range({m_sub})) AS sub FROM e)
),
c0 AS MATERIALIZED (
  SELECT sub, rn - 1 AS code, v AS c FROM (
    SELECT sub, v,
           row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
    FROM sv
  ) WHERE rn <= {ksub}
)"""]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT vec_id, sub, v, code FROM (
    SELECT sv.vec_id, sv.sub, sv.v, {prev}.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
             {dist("sv.v", prev + ".c")}, {prev}.code) AS rn
    FROM sv JOIN {prev} ON sv.sub = {prev}.sub
  ) WHERE rn = 1
),
s{i} AS MATERIALIZED (
  SELECT sub, code, i,
         CAST(SUM(v[i + 1]) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT sub, code, v, unnest(range({dsub})) AS i FROM a{i})
  GROUP BY sub, code, i
),
c{i} AS MATERIALIZED (
  SELECT sub, code,
         list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
              ORDER BY i) AS c
  FROM s{i} GROUP BY sub, code
)""")
        prev = f"c{i}"
    parts.append(f""",
af AS MATERIALIZED (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, {prev}.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
             {dist("sv.v", prev + ".c")}, {prev}.code) AS rn
    FROM sv JOIN {prev} ON sv.sub = {prev}.sub
  ) WHERE rn = 1
),
qr AS MATERIALIZED (
  SELECT vec_id AS query_id, sub, v FROM sv WHERE vec_id < 10
),
lut AS MATERIALIZED (
  SELECT qr.query_id, qr.sub, {prev}.code,
         {dist("qr.v", prev + ".c")} AS d
  FROM qr JOIN {prev} ON qr.sub = {prev}.sub
),
adc AS MATERIALIZED (
  SELECT lut.query_id, af.vec_id AS neighbor_id,
         CAST(SUM(lut.d) AS BIGINT) AS adc_dist
  FROM af JOIN lut ON af.sub = lut.sub AND af.code = lut.code
  WHERE af.vec_id <> lut.query_id
  GROUP BY lut.query_id, af.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, adc_dist FROM (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS arn
    FROM adc
  ) WHERE arn <= 100
),
rr AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id, c.adc_dist,
         {dist("eq.qv", "en.qv")} AS dist_sq
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist_sq, adc_dist
FROM (
  SELECT query_id, neighbor_id, dist_sq, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist_sq, neighbor_id) AS rn
  FROM rr
) WHERE rn <= 5""")
    return "".join(parts)


@register("l54_knn_pq", oracle=_l54_oracle())
def l54_knn_pq(spark, sf_dir):
    """Product-quantization approximate top-5 (ADC), now FULLY
    oracle-backed: per-subspace INTEGER codebooks (4 subspaces x 16
    codes, the shared quantized-grid Lloyd machinery), integer ADC
    lookup tables, and an exact int64 L2² re-rank of the top-100
    candidates — the memory-bound third leg of the ANN stack beside
    sign-LSH (l07) and IVF (l15), in its production candidate+rerank
    shape, with codebook training, encoding, ADC scores, and final
    ranks all replayed bit-for-bit by the generated DuckDB oracle
    (_l54_oracle — iteration CTEs emitted in a loop). Recall vs brute
    force asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.pq_topk_int(
        emb, q, k=5, m_sub=4, ksub=16, kmeans_iters=2, rerank=100
    )


def _l55_oracle(
    threshold: float = 0.05, num_hashes: int = 64, bands: int = 32
) -> str:
    from ekati_spark.operators.dedup import MERSENNE_31

    mins, band_eq = _minhash_sql_parts(num_hashes, bands)
    rows = num_hashes // bands
    # s^r and (1-s^r)^bands as explicit LEFT-ASSOCIATED multiplication
    # chains — identical IEEE op sequence to the Spark side (no pow():
    # libm implementations diverge across engines).
    sr = " * ".join(["s"] * rows)
    tb = " * ".join(["t"] * bands)
    return f"""
    WITH sub AS (SELECT doc_id, text FROM documents),
    shx AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)), ' +')) - 1, 1)),
               i -> string_split_regex(trim(lower(text)), ' +')[i] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+1] || ' ' ||
                    string_split_regex(trim(lower(text)), ' +')[i+2]
             )) AS sh
      FROM sub
    ),
    ex AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
               AS jaccard
      FROM shx a JOIN shx b ON a.id < b.id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
            >= {threshold}
    ),
    toks AS (
      SELECT doc_id AS id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM sub
    ),
    shr AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks
    ),
    h AS (
      SELECT id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
               % {MERSENNE_31} AS h
      FROM shr
    ),
    sig AS (SELECT id, {mins} FROM h GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_eq})
    ),
    fl AS (
      SELECT e.jaccard,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS caught
      FROM ex e LEFT JOIN cand c
        ON e.id_a = c.id_a AND e.id_b = c.id_b
    ),
    agg AS (
      SELECT CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS j_bucket,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(caught) AS BIGINT) AS n_caught
      FROM fl GROUP BY 1
    ),
    pr AS (
      SELECT *,
             (CAST(j_bucket AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / CAST(10.0 AS DOUBLE) AS s
      FROM agg
    ),
    pr2 AS (SELECT *, CAST(1.0 AS DOUBLE) - ({sr}) AS t FROM pr)
    SELECT j_bucket, n_pairs, n_caught,
           floor(CAST(n_caught AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS recall,
           floor((CAST(1.0 AS DOUBLE) - ({tb})) * 1000000 + 0.5) / 1000000
             AS predicted
    FROM pr2
    """


@register("l55_lsh_recall_audit", oracle=_l55_oracle(threshold=0.0))
def l55_lsh_recall_audit(spark, sf_dir):
    """Recall audit of the production MinHash-LSH candidate generator
    (l03's 64 hashes × 32 bands) against exact all-pairs 3-gram
    Jaccard: per Jaccard decile, how many shingle-sharing pairs exist,
    how many the band join catches, the observed recall, and the
    theoretical S-curve collision probability 1-(1-s^r)^b at the
    decile midpoint. On this corpus the report shows both regimes:
    the low-similarity decile stays mostly un-caught (by design —
    that's the shuffle volume LSH saves) while the planted
    near-identical decile is caught completely. The measured
    counterpart of the recall property test in tests/test_dedup.py —
    dedup quality as a queryable report, not a code comment. The
    exact all-pairs side bounds the audit (inverted-index join, cost
    ∝ Σ shingle-bucket²); at 100 TB run it on a uniform doc sample —
    recall is a per-decile ratio, unbiased under pair subsampling."""
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_recall_audit(docs, threshold=0.0, num_hashes=64, bands=32)


def _l56_oracle(max_n: int = 5) -> str:
    subqs = []
    for n in range(1, max_n + 1):
        gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(n)).replace(
            "t[i+0]", "t[i]"
        )
        subqs.append(f"""
    SELECT {n} AS n,
           CAST(count(*) AS BIGINT) AS total_ngrams,
           CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           floor(CAST(count(DISTINCT g) AS DOUBLE) /
                 CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS novelty
    FROM (
      SELECT unnest(list_transform(
               range(1, greatest(len(t) - {n} + 2, 1)),
               i -> {gram})) AS g
      FROM (SELECT string_split_regex(trim(lower(text)), ' +') AS t
            FROM documents)
    )""")
    return " UNION ALL ".join(subqs)


@register("l56_ngram_novelty", oracle=_l56_oracle())
def l56_ngram_novelty(spark, sf_dir):
    """Corpus n-gram novelty curve (n = 1..5): distinct/total word
    n-gram ratio — the repetitiveness diagnostic used to spot
    templated/boilerplate corpora before training (a fast-falling
    curve means the corpus repeats itself; l23's within-doc repetition
    stats are the per-document counterpart). Exact integer counts; the
    ratio is one double division, so the oracle replays bit-identically."""
    docs = load_table(spark, sf_dir, "documents")
    return X.ngram_novelty_curve(docs, max_n=5)


@register(
    "l57_curation_pipeline",
    oracle="""
    WITH q AS (
      SELECT * FROM documents
      WHERE len(string_split_regex(trim(lower(text)), ' +')) BETWEEN 20 AND 400
        AND CAST(len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
            AS DOUBLE) / len(string_split_regex(trim(lower(text)), ' +')) > 0.3
    ),
    d AS (
      SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
      FROM q
    ),
    k AS (SELECT * FROM d WHERE rn = 1),
    s AS (
      SELECT source,
             CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '0ccccccc' THEN 'val'
                  WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '19999999' THEN 'test'
                  ELSE 'train' END AS split,
             len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\s0-9A-Za-z]+'))
               AS btok
      FROM k
    )
    SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(btok) AS BIGINT) AS n_tokens
    FROM s GROUP BY 1, 2
    """,
)
def l57_curation_pipeline(spark, sf_dir):
    """The end-to-end curation job as ONE composed DAG — what a user
    actually runs nightly: quality gate (l10's token band + distinct
    ratio) → exact dedup keep-first (l01's normalized digest) → salted
    deterministic train/val/test split (l22) → per-(split, source)
    document and BPE-ish token budgets (l18's tokenizer). Every stage
    is individually oracle-checked elsewhere; this entry checks the
    COMPOSITION (stage ordering, no row loss/duplication at the seams)
    and measures its one-job cost in the bench headline.

    Scale shape: one corpus scan feeding row-local predicates, one
    digest window (the dedup shuffle), a shuffle-free split projection,
    and a final partial-agg groupBy — 2 shuffles total for the whole
    pipeline; every stage prunes rows before the next."""
    from pyspark.sql import Window as W

    from ekati_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = docs.filter(
        X.token_count(t).between(20, 400) & (X.distinct_token_ratio(t) > 0.3)
    )
    w = W.partitionBy(F.md5(D.normalized(t))).orderBy("doc_id")
    kept = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    split = train_val_test_split(kept, "doc_id", 0.05, 0.05)
    return split.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.bpe_ish_token_count(t)).alias("n_tokens"),
    )




@register(
    "l58_sq8_recall_audit",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    s AS (
      SELECT vec_id, e, list_min(e) AS mn,
             greatest((list_max(e) - list_min(e)) / 255.0, 1e-12) AS scale
      FROM v
    ),
    qz AS (
      SELECT vec_id, mn, scale,
             list_transform(range(1, 65), i -> round((e[i] - mn) / scale)) AS q
      FROM s
    ),
    qs AS (SELECT vec_id, mn, scale, q, list_sum(q) AS sq FROM qz),
    qry AS (SELECT vec_id AS query_id, mn AS mnx, scale AS sx, q AS qx,
                   sq AS sqx
            FROM qs WHERE vec_id < 10),
    appr AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             floor((((CAST(64 AS DOUBLE) * mnx) * c.mn
                     + (mnx * c.scale) * c.sq)
                    + (c.mn * sx) * sqx
                    + (sx * c.scale) * list_dot_product(qx, c.q))
                   * 1000000 + 0.5) / 1000000 AS recon
      FROM qs c JOIN qry ON c.vec_id <> query_id
    ),
    atop AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY recon DESC, neighbor_id) AS rn FROM appr)
      WHERE rn <= 5
    ),
    eq AS (SELECT vec_id AS query_id, e AS ev FROM v WHERE vec_id < 10),
    escored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(ev, c.e) * 1000000 + 0.5) / 1000000
               AS dot
      FROM v c JOIN eq ON c.vec_id <> query_id
    ),
    etop AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY dot DESC, neighbor_id) AS rn FROM escored)
      WHERE rn <= 5
    )
    SELECT q.query_id,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap
    FROM (SELECT DISTINCT query_id FROM qry) q
    LEFT JOIN (
      SELECT a.query_id, count(*) AS n
      FROM atop a JOIN etop e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id
    ) o ON q.query_id = o.query_id
    """,
)
def l58_sq8_recall_audit(spark, sf_dir):
    """Recall audit of int8 scalar quantization (l19's per-vector
    min/max codes) as a SEARCH representation: for each of the l06
    query vectors, overlap@5 between top-5 by the offset-corrected
    reconstructed dot product and top-5 by the exact dot — the l55
    pattern (measure the approximation) applied to vector compression.
    The reconstruction expands dot(mn_x+s_x·q_x, mn_y+s_y·q_y) into
    d·mn_x·mn_y + mn_x·s_y·Σq_y + mn_y·s_x·Σq_x + s_x·s_y·Σq_x q_y —
    three precomputable integer sketches per vector (Σq BIGINT, Σq_xq_y
    integer-valued ≤ 255²·64, exactly representable in a double) plus
    per-vector float scalars. A naive symmetric Σq·q' WITHOUT the
    offset terms scores overlap ≈ 0 on this corpus (measured — the
    affine offset dominates); the corrected form is the honest SQ8
    search kernel.

    Determinism: the reconstruction is ONE fixed-order float
    expression (identical IEEE op sequence in the oracle), integer
    sketches are order-independent; both rankings use (score desc,
    vec_id) total orders after floor-1e6 rounding; overlap is an
    integer join count. At 100 TB the corpus scan is 4× smaller and
    the heavy term is an integer dot — this audit is the recall
    evidence for that trade."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mn = F.array_min(e)
    scale = F.greatest(
        (F.array_max(e) - F.array_min(e)) / F.lit(255.0), F.lit(1e-12)
    )

    def seqdot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    floor6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    qs = emb.select(
        "vec_id",
        mn.alias("mn"),
        scale.alias("scale"),
        F.transform(e, lambda x: F.round((x - mn) / scale, 0)).alias("q"),
        F.aggregate(
            F.transform(e, lambda x: F.round((x - mn) / scale, 0)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sq"),
        F.col("embedding").alias("raw"),
    ).transform(cut_lineage)  # both sides of the dot joins
    qry = qs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("mn").alias("mnx"),
        F.col("scale").alias("sx"),
        F.col("q").alias("qx"),
        F.col("sq").alias("sqx"),
        F.col("raw").alias("rawx"),
    )
    joined = qs.join(F.broadcast(qry), qs.vec_id != qry.query_id)
    appr = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        floor6(
            (
                (
                    (F.lit(64.0) * F.col("mnx")) * F.col("mn")
                    + (F.col("mnx") * F.col("scale")) * F.col("sq")
                )
                + (F.col("mn") * F.col("sx")) * F.col("sqx")
            )
            + (F.col("sx") * F.col("scale")) * seqdot(F.col("qx"), F.col("q"))
        ).alias("recon"),
    )
    from pyspark.sql import Window as W

    wa = W.partitionBy("query_id").orderBy(F.col("recon").desc(), "neighbor_id")
    atop = (
        appr.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    ex = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        floor6(
            seqdot(
                F.transform(F.col("rawx"), lambda x: x.cast("double")),
                F.transform(F.col("raw"), lambda x: x.cast("double")),
            )
        ).alias("dot"),
    )
    we = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    etop = (
        ex.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    overlap = (
        atop.join(etop, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        qry.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id", F.coalesce("n", F.lit(0)).cast("long").alias("n_overlap")
        )
    )


@register(
    "l59_source_overlap_matrix",
    oracle="""
    WITH tk AS (
      SELECT source, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 6, 1)),
               i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
                    t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]
             ))) AS g
      FROM tk
    ),
    sz AS (SELECT source, count(*) AS n FROM grams GROUP BY 1),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           floor(CAST(n_shared AS DOUBLE) /
                 CAST(least(sa.n, sb.n) AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS containment
    FROM ov
    JOIN sz sa ON sa.source = source_a
    JOIN sz sb ON sb.source = source_b
    """,
)
def l59_source_overlap_matrix(spark, sf_dir):
    """Cross-source duplication forensics: for every pair of sources
    sharing at least one word 8-gram, the count of shared distinct
    8-grams and the containment ratio (shared / smaller source's gram
    set) — the matrix that answers "which feeds are mirroring each
    other" before choosing dedup scope or mixture weights. l30
    (decontamination) is the corpus-vs-benchmark special case; this is
    the all-pairs-of-sources general form.

    Scale shape: distinct (source, gram) via one explode+window
    pipeline (codegen) + one aggregation; pairs meet on the shared-gram
    inverted index (cost ∝ Σ gram-bucket² over sources — bounded by
    #sources² per gram, and #sources is small by construction). The
    containment is one double division from exact integer counts."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias(
            "pos", "tok"
        ),
        F.col("doc_id"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, 8)]
    gram = F.concat_ws(" ", *parts)
    grams = (
        toks.select("source", gram.alias("g"), parts[-1].alias("last"))
        .filter(F.col("last").isNotNull())
        .select("source", "g")
        .distinct()
        .transform(cut_lineage)  # sizes + both sides of the pair join
    )
    sz = grams.groupBy("source").agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    out = ov.join(F.broadcast(sa), "source_a").join(F.broadcast(sb), "source_b")
    return out.select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "n_b",
        (
            F.floor(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("containment"),
    )


@register(
    "l60_eval_apportionment",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    t AS (SELECT SUM(n) AS tot FROM c),
    q AS (
      SELECT lang, n, (200 * n) // tot AS fl, (200 * n) % tot AS rem
      FROM c, t
    ),
    s AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr,
             (SELECT 200 - SUM(fl) FROM q) AS extra
      FROM q
    )
    SELECT lang, n AS n_docs,
           CAST(fl + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM s
    """,
)
def l60_eval_apportionment(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a 200-document
    eval budget across languages: per-language quota = floor of the
    exact proportional share, with the leftover seats going to the
    largest remainders (ties → lang ascending). The rounding method
    that guarantees Σ quota == budget exactly — naive per-group
    round(share·budget) over- or under-shoots and every eval-set
    builder eventually rediscovers this. All integer arithmetic
    ((budget·n) div/mod total), so the oracle replays it exactly.

    Scale shape: one partial-agg groupBy; the total and the remainder
    ranking are unpartitioned window functions over #groups rows
    (languages — inherently tiny), never over data rows."""
    from pyspark.sql import Window as W

    B = 200
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n"))
    wall = W.partitionBy()
    q = c.select(
        "lang",
        "n",
        F.sum("n").over(wall).alias("tot"),
    ).select(
        "lang",
        "n",
        F.expr(f"({B} * n) div tot").alias("fl"),
        F.expr(f"({B} * n) % tot").alias("rem"),
    )
    s = q.select(
        "lang",
        "n",
        "fl",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("rem").desc(), "lang"))
        .alias("rr"),
        (F.lit(B) - F.sum("fl").over(wall)).alias("extra"),
    )
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        (F.col("fl") + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0))
        .cast("long")
        .alias("quota"),
    )


@register(
    "l61_audio_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id, 64 + doc_id % 97 AS n FROM documents
    ),
    samp AS (
      SELECT doc_id, n, unnest(range(CAST(n AS BIGINT))) AS i FROM base
    ),
    vals AS (
      SELECT doc_id, n, i,
             (doc_id * 131 + i * 17) % 4096 - 2048 AS s
      FROM samp
    ),
    flags AS (
      SELECT doc_id, n, s,
             CASE WHEN (s < 0) !=
                       (lag(s) OVER (PARTITION BY doc_id ORDER BY i) < 0)
                  THEN 1 ELSE 0 END AS flip
      FROM vals
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(max(n) AS INTEGER) AS n_samples,
           CAST(max(n) * 1000 // 8000 AS INTEGER) AS duration_ms,
           CAST(max(abs(s)) AS BIGINT) AS peak_abs,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(flip) AS BIGINT) AS zero_crossings
    FROM flags GROUP BY doc_id
    """,
)
def l61_audio_decode(spark, sf_dir):
    """REAL audio decode via mapInPandas: plant a deterministic mono
    16-bit PCM WAV per doc (operators.audio.planted_wav — sample count
    and every sample value are arithmetic on doc_id), decode it with the
    pure-stdlib RIFF/WAV codec (no audio library), and emit the
    recovered rate/channels/frame-count plus exact integer signal stats
    (peak, sum|s|, sum s^2, sign-flip count). The oracle predicts every
    value from the planting formulas, so a hash match attests the full
    encode->decode round trip — the audio analog of l12's PNG path.
    Per-row independent => scales linearly with partitions; payload
    bytes never shuffle."""
    from ekati_spark.operators.multimodal import extract_audio_features

    @F.pandas_udf("binary")
    def plant(ids: pd.Series) -> pd.Series:
        from ekati_spark.operators.audio import planted_wav  # noqa: PLC0415

        return ids.map(lambda i: planted_wav(int(i)))

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mm = docs.withColumn("content", plant("doc_id"))
    return extract_audio_features(mm)


@register(
    "l62_audio_resample",
    oracle="""
    WITH base AS (
      SELECT doc_id, 64 + doc_id % 97 AS n FROM documents
    ),
    samp AS (
      SELECT doc_id, (n + 1) // 2 AS n2,
             unnest(range(CAST((n + 1) // 2 AS BIGINT))) AS j
      FROM base
    ),
    vals AS (
      SELECT doc_id, n2, j,
             (doc_id * 131 + (2 * j) * 17) % 4096 - 2048 AS s
      FROM samp
    ),
    flags AS (
      SELECT doc_id, n2, s,
             CASE WHEN (s < 0) !=
                       (lag(s) OVER (PARTITION BY doc_id ORDER BY j) < 0)
                  THEN 1 ELSE 0 END AS flip
      FROM vals
    )
    SELECT doc_id,
           CAST(4000 AS INTEGER) AS sample_rate,
           CAST(max(n2) AS INTEGER) AS n_samples,
           CAST(max(n2) * 1000 // 4000 AS INTEGER) AS duration_ms,
           CAST(max(abs(s)) AS BIGINT) AS peak_abs,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(sum(flip) AS BIGINT) AS zero_crossings
    FROM flags GROUP BY doc_id
    """,
)
def l62_audio_resample(spark, sf_dir):
    """REAL audio transform round trip: plant the l61 WAV, decimate it
    2x with the pure-stdlib codec (decode -> keep every 2nd frame ->
    re-encode at rate//2), then decode the TRANSFORMED bytes and emit
    integer stats. The oracle replays the decimation arithmetically
    (kept sample j came from index 2j), so a hash match attests
    decode->transform->encode->decode — the audio analog of
    resize_png's nearest-neighbor contract. Two chained Arrow UDFs,
    per-row independent; bytes never shuffle."""
    from ekati_spark.operators.multimodal import extract_audio_features

    @F.pandas_udf("binary")
    def plant_decimated(ids: pd.Series) -> pd.Series:
        from ekati_spark.operators.audio import (  # noqa: PLC0415
            decimate_wav,
            planted_wav,
        )

        return ids.map(lambda i: decimate_wav(planted_wav(int(i)), 2))

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mm = docs.withColumn("content", plant_decimated("doc_id"))
    return extract_audio_features(mm).drop("n_channels", "sum_sq")


@register(
    "l63_frame_sampling",
    oracle="""
    WITH base AS (
      SELECT doc_id, 900 + (doc_id * 37) % 9000 AS dur FROM documents
    ),
    f AS (
      SELECT doc_id, dur,
             unnest(range(0, CAST(dur AS BIGINT), 1000)) AS frame_ms
      FROM base
    )
    SELECT doc_id, CAST(frame_ms AS BIGINT) AS frame_ms,
           CAST(dur AS BIGINT) AS duration_ms
    FROM f
    """,
)
def l63_frame_sampling(spark, sf_dir):
    """Video frame-sampling plumbing, oracle-attested: assign each doc a
    deterministic clip duration (arithmetic on doc_id), run
    operators.multimodal.sample_frames (posexplode of a JVM-generated
    sequence — zero Python; the decode of each sampled frame is the
    clearly-stubbed seam), and emit one row per sampled timestamp. The
    oracle replays the grid with range(0, dur, 1000), so a hash match
    attests the exact frame-offset contract (frames at 0..dur-1 step
    1000 — no phantom frame at dur). Generator output scales with
    sum(duration)/step, partition-local."""
    from ekati_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mm = docs.withColumn(
        "media",
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (900 + (F.col("doc_id") * 37) % 9000)
            .cast("long")
            .alias("duration_ms"),
            F.lit("planted").alias("codec"),
        ),
    )
    return sample_frames(mm, every_ms=1000).select(
        "doc_id",
        F.col("frame_ms").cast("long").alias("frame_ms"),
        F.col("media.duration_ms").alias("duration_ms"),
    )


@register(
    "l64_skipgram_collocations",
    oracle="""
    WITH tk AS MATERIALIZED (
      SELECT string_split_regex(trim(lower(text)), ' +') AS t FROM documents
    ),
    uni AS MATERIALIZED (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(t) AS tok FROM tk)
      WHERE tok != '' GROUP BY tok
    ),
    tot AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM uni),
    pairs AS MATERIALIZED (
      SELECT p[1] AS w, p[2] AS c FROM (
        SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                     i -> [t[i], t[i + 1]])) AS p
        FROM tk
        UNION ALL
        SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                     i -> [t[i], t[i + 2]])) AS p
        FROM tk
      )
    ),
    pc AS MATERIALIZED (
      SELECT w, c, CAST(count(*) AS BIGINT) AS n_wc
      FROM pairs GROUP BY w, c
    ),
    ptot AS MATERIALIZED (SELECT CAST(SUM(n_wc) AS BIGINT) AS pp FROM pc)
    SELECT w, c, n_wc, lift_micro FROM (
      SELECT pc.w, pc.c, pc.n_wc,
             CAST(((pc.n_wc * tot.nn // uw.n) * tot.nn // uc.n)
                  * 1000000 // ptot.pp AS BIGINT) AS lift_micro,
             row_number() OVER (
               ORDER BY ((pc.n_wc * tot.nn // uw.n) * tot.nn // uc.n)
                        * 1000000 // ptot.pp DESC, pc.w, pc.c) AS rn
      FROM pc
      JOIN uni uw ON pc.w = uw.tok
      JOIN uni uc ON pc.c = uc.tok
      CROSS JOIN tot CROSS JOIN ptot
      WHERE pc.n_wc >= 5
    ) WHERE rn <= 50
    """,
)
def l64_skipgram_collocations(spark, sf_dir):
    """Skip-gram collocation mining (phrase-vocabulary construction for
    tokenizers / word2vec-style pair extraction): directed co-occurrence
    pairs at offsets +1 and +2 over the whitespace token stream, scored
    by association lift against the unigram independence baseline.

    Exactness: lift = (n_wc/P) / ((n_w/N)(n_c/N)) is computed in ONE
    fixed integer op order — ((n_wc*N div n_w) * N div n_c) * 1e6 div P
    — every intermediate bounded by N^2*1e6 < 2^63 at any test SF, and
    the oracle replays the identical division sequence, so even the
    scores hash-match (the g32/g39 fixed-point doctrine). Plan shape:
    posexplode + two window leads (no interpreted array lambdas on the
    hot path per the dedup.py rule), three hash aggregations (vocab,
    pairs, totals — all map-side partial), two vocab joins, top-k as
    WindowGroupLimit. Shuffle ∝ corpus tokens; nothing driver-side."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), " +")).alias(
            "pos", "tok"
        ),
    )
    uni = (
        toks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("long").alias("nn"))
    win = W.partitionBy("doc_id").orderBy("pos")
    led = toks.select(
        F.col("tok").alias("w"),
        F.lead("tok", 1).over(win).alias("c1"),
        F.lead("tok", 2).over(win).alias("c2"),
    )
    pairs = led.filter(F.col("c1").isNotNull()).select(
        "w", F.col("c1").alias("c")
    ).unionByName(
        led.filter(F.col("c2").isNotNull()).select("w", F.col("c2").alias("c"))
    )
    pc = pairs.groupBy("w", "c").agg(F.count("*").cast("long").alias("n_wc"))
    ptot = pc.agg(F.sum("n_wc").cast("long").alias("pp"))
    scored = (
        pc.filter(F.col("n_wc") >= 5)
        .join(uni.select(F.col("tok").alias("w"), F.col("n").alias("n_w")), "w")
        .join(uni.select(F.col("tok").alias("c"), F.col("n").alias("n_c")), "c")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ptot))
        .select(
            "w",
            "c",
            "n_wc",
            F.expr(
                "((n_wc * nn div n_w) * nn div n_c) * 1000000 div pp"
            ).cast("long").alias("lift_micro"),
        )
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(F.col("lift_micro").desc(), "w", "c")
            ),
        )
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


@register(
    "l65_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, lang,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS digest
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 11 = 0
                  THEN md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                           || ':v2')
                  ELSE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             END AS digest
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000000, lang,
             md5(CAST(doc_id AS VARCHAR) || ':new')
      FROM documents WHERE doc_id % 13 = 0
    ),
    j AS (
      SELECT COALESCE(a.lang, b.lang) AS lang,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.digest <> b.digest THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL JOIN b ON a.doc_id = b.doc_id
    )
    SELECT lang, status, CAST(count(*) AS BIGINT) AS n_docs
    FROM j GROUP BY lang, status
    """,
)
def l65_snapshot_diff(spark, sf_dir):
    """Dataset-release diff report: full-outer join of two corpus
    snapshots on doc_id, classifying every document added / removed /
    changed (content digest differs) / unchanged, rolled up per
    language — the audit a training-data release pipeline publishes
    with each snapshot. Snapshot B is derived deterministically from A
    (%7 deletions, %11 edits, %13 additions — the l46 stand-in
    convention) so the oracle replays it exactly.

    Scale shape: the diff never compares text — both sides reduce to
    (doc_id, digest) first (at 100 TB these are the snapshots'
    persisted digest indexes, bucketed on doc_id, so the full-outer
    join is co-located and text bytes are never read); the report
    aggregate is ∝ langs × 4 rows."""
    docs = load_table(spark, sf_dir, "documents")
    dg = F.md5(D.normalized(F.col("text")))
    a = docs.select("doc_id", "lang", dg.alias("digest"))
    b_kept = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 11 == 0, F.md5(F.concat(D.normalized(F.col("text")), F.lit(":v2")))
        )
        .otherwise(dg)
        .alias("digest"),
    )
    b_new = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":new"))).alias(
            "digest"
        ),
    )
    b = b_kept.unionByName(b_new)
    aa, bb = a.alias("a"), b.alias("b")
    j = aa.join(bb, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.digest") != F.col("b.digest"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("lang", "status").agg(
        F.count("*").cast("long").alias("n_docs")
    )


@register(
    "l66_token_dropout",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
        FROM documents
      ), unnest(range(1, len(t) + 1)) AS u(i)
      WHERE t[i] != ''
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             CAST(('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || '_' || CAST(pos AS VARCHAR)
                 || '_' || tok), 1, 13)) AS BIGINT) % 10 = 0 AS dropped
      FROM toks
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT dropped THEN tok END,
                               ' ' ORDER BY pos), '') AS aug_text,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM marked GROUP BY doc_id
    """,
)
def l66_token_dropout(spark, sf_dir):
    """Deterministic data augmentation: token dropout at p = 0.1 with
    md5-prefix draws keyed (doc, pos, token) — the sampling.py
    no-RNG doctrine applied to augmentation, so the augmented corpus
    is reproducible under retries/replays and hash-matches the SQL
    replay exactly (which a rand()-based dropout never could). Emits
    the augmented text (kept tokens, original order) plus dropped and
    total token counts per document.

    Scale shape: posexplode → one codegen projection computing the
    draw → ordered listagg back per doc. Shuffle ∝ corpus tokens,
    state ∝ tokens per doc — sessionization's bound."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), " +")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    marked = toks.withColumn(
        "dropped",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("doc_id").cast("string"),
                        F.col("pos").cast("string"),
                        F.col("tok"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0,
    )
    marked.createOrReplaceTempView("l66_marked")
    return spark.sql(
        """
        SELECT doc_id,
               COALESCE(listagg(CASE WHEN NOT dropped THEN tok END, ' ')
                          WITHIN GROUP (ORDER BY pos), '') AS aug_text,
               CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM l66_marked GROUP BY doc_id
        """
    )


@register(
    "l67_feature_standardize",
    oracle="""
    WITH d AS (
      SELECT o_orderkey, o_orderpriority AS grp,
             CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x
      FROM orders
    ),
    s AS (
      SELECT grp, CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(x * x) AS HUGEINT) AS sxx
      FROM d GROUP BY grp
    )
    SELECT d.o_orderkey, d.grp,
           CAST(floor(
             ((CAST(d.x AS DOUBLE) - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE))
              / sqrt(CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                     / CAST(s.n AS DOUBLE) / CAST(s.n AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS z_micro
    FROM d JOIN s ON d.grp = s.grp
    """,
)
def l67_feature_standardize(spark, sf_dir):
    """Grouped z-score standardization — the classic tabular feature
    prep, bit-exact across engines: values quantize to integer dollars
    (floor(x+0.5): one IEEE op), per-group moments (n, Σx, Σx²) are
    exact decimal(38,0)/HUGEINT — n·Σx² and (Σx)² pass 2e20 near
    sf0.1, past int64, so the moment products MUST widen (the g37
    decimal-moments rule) — and the per-row z-score is ONE fixed float op
    sequence (subtract the mean S/n, divide by sqrt((n·Σx²-S²)/n/n) —
    every input an exactly-represented integer, every op correctly
    rounded, identical order both engines), reported in micro units
    via the floor(+0.5) contract. The g37 integer-moments pattern
    applied to per-row transforms instead of one scalar.

    Scale shape: one groupBy for the 5-row stats table, broadcast back
    onto the scan — the transform itself is map-side codegen; no
    second pass, no sort."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") + 0.5).cast("long").alias("x"),
    )
    s = d.groupBy("grp").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    return d.join(F.broadcast(s), "grp").select(
        "o_orderkey",
        "grp",
        F.floor(
            (
                (
                    F.col("x").cast("double")
                    - F.col("sx").cast("double") / F.col("n").cast("double")
                )
                / F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                    / F.col("n").cast("double")
                    / F.col("n").cast("double")
                )
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("z_micro"),
    )


@register(
    "l68_feature_bucketize",
    oracle="""
    WITH d AS (
      SELECT o_orderkey, o_orderpriority AS grp,
             CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x
      FROM orders
    ),
    q AS (
      SELECT grp,
             CAST(floor(quantile_cont(CAST(x AS DOUBLE), 0.25) * 10000 + 0.5)
                  AS BIGINT) AS q1,
             CAST(floor(quantile_cont(CAST(x AS DOUBLE), 0.50) * 10000 + 0.5)
                  AS BIGINT) AS q2,
             CAST(floor(quantile_cont(CAST(x AS DOUBLE), 0.75) * 10000 + 0.5)
                  AS BIGINT) AS q3
      FROM d GROUP BY grp
    )
    SELECT d.o_orderkey, d.grp,
           CAST(1 + (CASE WHEN d.x * 10000 > q.q1 THEN 1 ELSE 0 END)
                  + (CASE WHEN d.x * 10000 > q.q2 THEN 1 ELSE 0 END)
                  + (CASE WHEN d.x * 10000 > q.q3 THEN 1 ELSE 0 END)
                AS INTEGER) AS bucket
    FROM d JOIN q ON d.grp = q.grp
    """,
)
def l68_feature_bucketize(spark, sf_dir):
    """Quantile feature discretization (the bucketizer companion to
    l67's z-score): per-group quartile boundaries from the EXACT
    interpolated percentile (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the r39 contract), fixed-point-rounded to 1e-4
    before comparison so boundary decisions are bit-identical, then
    bucket = 1 + #(boundaries below x). Integer-dollar values make the
    comparison side exact too (x·1e4 vs the rounded boundary — no
    float on the row side at all).

    Scale shape: one exact-percentile aggregate per group (at 100 TB
    swap in percentile_approx under the r58 rank-error contract — same
    query shape), broadcast back onto the scan; assignment is map-side
    codegen."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") + 0.5).cast("long").alias("x"),
    )
    q = d.groupBy("grp").agg(
        *[
            F.floor(
                F.expr(f"percentile(CAST(x AS DOUBLE), {p})") * 10000 + 0.5
            )
            .cast("long")
            .alias(name)
            for p, name in ((0.25, "q1"), (0.50, "q2"), (0.75, "q3"))
        ]
    )
    return d.join(F.broadcast(q), "grp").select(
        "o_orderkey",
        "grp",
        (
            F.lit(1)
            + (F.col("x") * 10000 > F.col("q1")).cast("int")
            + (F.col("x") * 10000 > F.col("q2")).cast("int")
            + (F.col("x") * 10000 > F.col("q3")).cast("int")
        )
        .cast("int")
        .alias("bucket"),
    )


@register(
    "l69_decode_coverage",
    oracle="""
    SELECT CAST(doc_id % 4 AS INTEGER) AS grp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_decoded,
           CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_failed,
           CASE WHEN SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) > 0
                THEN 'ValueError' END AS top_err
    FROM documents GROUP BY 1
    """,
)
def l69_decode_coverage(spark, sf_dir):
    """Decode-coverage telemetry for the multimodal seam: the
    undecodable→null contract (multimodal.extract_features) is only
    safe at 100 TB if the null RATE is observable, so this measures it.
    Plants a valid 8-bit PNG for most docs and a structurally-valid
    16-bit-depth PNG (outside the codec's documented contract,
    png.planted_png16) for doc_id % 7 == 3, decodes with
    ``with_status=True``, and aggregates decoded/failed counts plus the
    failing exception class per group. The oracle predicts every count
    from the planting rule, so a hash match attests both the real
    decode path AND the failure-classification path. Scale shape: the
    status columns ride the existing mapInPandas batch — zero extra
    passes; the aggregate is a 4-group count."""
    from ekati_spark.operators.multimodal import extract_features

    @F.pandas_udf("binary")
    def plant(ids: pd.Series) -> pd.Series:
        from ekati_spark.operators.png import (  # noqa: PLC0415
            planted_png,
            planted_png16,
        )

        return ids.map(
            lambda i: planted_png16(int(i))
            if int(i) % 7 == 3
            else planted_png(int(i))
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    f = extract_features(
        docs.withColumn("content", plant("doc_id")),
        fake=False,
        with_status=True,
    )
    return f.groupBy((F.col("doc_id") % 4).cast("int").alias("grp")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("n_failed"),
        F.max("decode_err").alias("top_err"),
    )


@register(
    "l70_ivf_append_parity",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    eb AS MATERIALIZED (
      SELECT vec_id, qv FROM e WHERE vec_id % 5 <> 4
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, qv AS c
      FROM (SELECT vec_id, qv FROM eb ORDER BY vec_id LIMIT 16)
    ),
    a1 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT eb.vec_id, eb.qv, c0.list_id,
               row_number() OVER (PARTITION BY eb.vec_id ORDER BY
                 CAST(list_dot_product(eb.qv, eb.qv)
                      - 2 * list_dot_product(eb.qv, c0.c)
                      + list_dot_product(c0.c, c0.c) AS BIGINT),
                 c0.list_id) AS rn
        FROM eb CROSS JOIN c0
      ) WHERE rn = 1
    ),
    s1 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a1)
      GROUP BY list_id, i
    ),
    c1 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s1 GROUP BY list_id
    ),
    a2 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT eb.vec_id, eb.qv, c1.list_id,
               row_number() OVER (PARTITION BY eb.vec_id ORDER BY
                 CAST(list_dot_product(eb.qv, eb.qv)
                      - 2 * list_dot_product(eb.qv, c1.c)
                      + list_dot_product(c1.c, c1.c) AS BIGINT),
                 c1.list_id) AS rn
        FROM eb CROSS JOIN c1
      ) WHERE rn = 1
    ),
    s2 AS MATERIALIZED (
      SELECT list_id, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT list_id, qv, unnest(range(64)) AS i FROM a2)
      GROUP BY list_id, i
    ),
    c2 AS MATERIALIZED (
      SELECT list_id,
             list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                  ORDER BY i) AS c
      FROM s2 GROUP BY list_id
    ),
    a3 AS MATERIALIZED (
      SELECT vec_id, qv, list_id FROM (
        SELECT e.vec_id, e.qv, c2.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM e CROSS JOIN c2
      ) WHERE rn = 1
    ),
    qr AS MATERIALIZED (
      SELECT vec_id AS query_id, qv AS q FROM e WHERE vec_id < 10
    ),
    probe AS MATERIALIZED (
      SELECT query_id, q, list_id FROM (
        SELECT qr.query_id, qr.q, c2.list_id,
               row_number() OVER (PARTITION BY qr.query_id ORDER BY
                 CAST(list_dot_product(qr.q, qr.q)
                      - 2 * list_dot_product(qr.q, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM qr CROSS JOIN c2
      ) WHERE rn <= 6
    ),
    cand AS MATERIALIZED (
      SELECT p.query_id,
             CAST(list_dot_product(p.q, p.q)
                  - 2 * list_dot_product(p.q, a3.qv)
                  + list_dot_product(a3.qv, a3.qv) AS BIGINT) AS dist_sq,
             a3.vec_id AS neighbor_id
      FROM probe p JOIN a3 ON a3.list_id = p.list_id
      WHERE a3.vec_id <> p.query_id
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist_sq FROM (
      SELECT query_id, neighbor_id, dist_sq,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_sq, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= 5
    """,
)
def l70_ivf_append_parity(spark, sf_dir):
    """Incremental IVF index maintenance, oracle-attested: fit the
    integer-deterministic index on the BASE corpus (vec_id % 5 != 4 —
    l15's build replayed over the subset), freeze the centroids, assign
    the remaining 20% to the frozen centroids (the append path —
    operators.similarity.ivf_append_topk_int; on disk:
    append_ivf_index_int), and probe the union. The oracle replays
    base-only Lloyd iterations then assigns ALL vectors to the final
    centroids — i.e. it PROVES append ≡ assign-into-frozen-index, the
    reference's accumulate-on-put maintenance semantics
    (NodeAttrIndex.cs:187-232) applied to the ANN index. Scale shape:
    append cost ∝ batch size (one assignment pass + per-list appended
    files), probes prune to the probed list partitions; drift telemetry
    (ivf_index_drift_int) decides when to re-fit."""
    from ekati_spark.operators.similarity import ivf_append_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    fresh = emb.filter(F.col("vec_id") % 5 == 4)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_append_topk_int(
        base, fresh, q, k=5, n_lists=16, n_probe=6, kmeans_iters=2
    )


def _threshold_sweep(jm):
    """Shared sweep tail for l71/l113: per-threshold pair + doc counts
    from a ``(id_a, id_b, jm)`` milli-Jaccard pair table (jm ≥ 100).
    Each pair explodes into its qualifying threshold levels
    (sequence(1, jm div 100)) — pure equi-shuffles, reducer-invariant;
    doc counts use each doc's MAX pair score, same explode trick."""
    lvl = F.explode(
        F.sequence(F.lit(1), F.least(F.expr("jm div 100"), F.lit(9)))
    ).alias("t")
    np_ = jm.select(lvl).groupBy("t").agg(F.count("*").alias("n_pairs"))
    dmax = (
        jm.select(F.col("id_a").alias("id"), "jm")
        .unionByName(jm.select(F.col("id_b").alias("id"), "jm"))
        .groupBy("id")
        .agg(F.max("jm").alias("jm"))
    )
    nd = dmax.select(lvl).groupBy("t").agg(
        F.count("*").alias("n_dup_docs")
    )
    return np_.join(nd, "t").select(
        (F.col("t") * 100).cast("long").alias("jaccard_milli_ge"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
    )


_SWEEP_TAIL_SQL = """
    pt AS (
      SELECT unnest(range(1, least(jm // 100, 9) + 1)) AS t
      FROM jm WHERE jm >= 100
    ),
    np AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs FROM pt GROUP BY t),
    dmax AS (
      SELECT id, max(jm) AS mj FROM (
        SELECT id_a AS id, jm FROM jm UNION ALL SELECT id_b, jm FROM jm
      ) GROUP BY id
    ),
    dt AS (
      SELECT unnest(range(1, least(mj // 100, 9) + 1)) AS t
      FROM dmax WHERE mj >= 100
    ),
    nd AS (SELECT t, CAST(count(*) AS BIGINT) AS n_dup_docs FROM dt GROUP BY t)
    SELECT CAST(np.t * 100 AS BIGINT) AS jaccard_milli_ge,
           np.n_pairs, nd.n_dup_docs
    FROM np JOIN nd ON np.t = nd.t
"""


def _l71_oracle(num_hashes: int = 64, bands: int = 32) -> str:
    """Replays the FULL banded pipeline (l03 precedent): md5 shingle
    hashes → permutation-min signatures → band-slice-equality candidacy
    → exact shared-shingle verification → milli-Jaccard → sweep."""
    from ekati_spark.operators.dedup import MERSENNE_31

    mins, band_eq = _minhash_sql_parts(num_hashes, bands)
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks
    ),
    h AS (
      SELECT id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
               % {MERSENNE_31} AS h
      FROM sh
    ),
    sig AS (SELECT id, count(*) AS sz, {mins} FROM h GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_eq})
    ),
    shared AS (
      SELECT cd.id_a, cd.id_b, cd.sz_a, cd.sz_b, count(*) AS c
      FROM cand cd
      JOIN h ha ON ha.id = cd.id_a
      JOIN h hb ON hb.id = cd.id_b AND hb.h = ha.h
      GROUP BY 1, 2, 3, 4
    ),
    jm AS (
      SELECT id_a, id_b, 1000 * c // (sz_a + sz_b - c) AS jm
      FROM shared
    ),
    {_SWEEP_TAIL_SQL}
    """


@register("l71_dedup_threshold_sweep", oracle=_l71_oracle(32, 16))
def l71_dedup_threshold_sweep(spark, sf_dir):
    """Near-dup THRESHOLD TUNING table — the question every dedup
    deployment asks before committing a cutoff: for each Jaccard
    threshold 0.1..0.9, how many candidate pairs and how many distinct
    documents would be implicated? Jaccard is integer milli-units
    (1000·|∩| div |∪| — no float anywhere).

    The pair substrate is the PRODUCTION one — MinHash-banded LSH
    candidates (operators.dedup.minhash_band_candidates, the l03
    pipeline: cost ∝ band-bucket², never all-pairs) verified with
    exact shared-shingle counts. The oracle replays the banding
    bit-for-bit (_l71_oracle — md5 shingle hashes, permutation mins,
    slice-equality candidacy), so the sweep is hash-attested on
    exactly the candidate set a 100 TB run would see. (32 hashes, 16
    bands) rather than l03's flagship (64, 32): the signature
    aggregation is the dominant cost and a TUNING sweep needs the
    S-curve's shape, not its flagship sharpness — same r=2 rows/band,
    so the curve is only slightly flatter (cand P at s=0.5: 0.99 vs
    0.9999), and l55_lsh_recall_audit measures the real per-decile
    recall; l113 keeps the exact all-pairs sweep as the
    bounded-subset twin. The sweep tail
    adds one narrow explode (≤9 rows per pair) and two small
    aggregations (_threshold_sweep)."""
    docs = load_table(spark, sf_dir, "documents")
    jm = _l71_pair_source(docs).transform(
        cut_lineage  # consumed by pair sweep + doc sweep
    )
    return _threshold_sweep(jm)


def _l71_pair_source(docs):
    """l71's pair substrate, pre-lineage-cut (seam for the plan-shape
    test: tests/test_operators.py asserts the banded candidacy and the
    absence of any all-pairs shingle self-join)."""
    from ekati_spark.operators.dedup import minhash_band_candidates

    cand, sh_rows = minhash_band_candidates(docs, num_hashes=32, bands=16)
    return (
        cand.join(sh_rows.select(F.col("id").alias("id_a"), "h"), "id_a")
        .join(sh_rows.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("c"))
        .select(
            "id_a",
            "id_b",
            F.expr("1000 * c div (sz_a + sz_b - c)").alias("jm"),
        )
        .filter(F.col("jm") >= 100)
    )


@register(
    "l113_dedup_sweep_exact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents WHERE doc_id < 400
    ),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ),
    sz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
      GROUP BY 1, 2
    ),
    jm AS (
      SELECT p.id_a, p.id_b,
             1000 * p.c // (sa.sz + sb.sz - p.c) AS jm
      FROM pairs p JOIN sz sa ON sa.id = p.id_a JOIN sz sb ON sb.id = p.id_b
    ),
    {_SWEEP_TAIL_SQL}
    """,
)
def l113_dedup_sweep_exact(spark, sf_dir):
    """EXACT all-pairs twin of l71's threshold sweep, on a bounded
    subset (doc_id < 400): the shingle inverted-index self-join gives
    ground-truth Jaccard with no banding recall loss. Deliberately
    NOT the headline path — cost is ∝ Σ shingle-bucket², quadratic in
    per-shingle doc frequency, so at 100 TB it exists only as an
    audit run over a sampled slice (exactly what the subset cap
    models); l71 is the production sweep. Reference analog: none
    (LLM-data extension)."""
    from ekati_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 400
    )
    rows = shingle_rows(docs).transform(cut_lineage)
    sz = rows.groupBy("id").agg(F.count("*").alias("sz"))
    ex = rows.join(sz, "id")
    a, b = ex.alias("a"), ex.alias("b")
    jm = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("c"))
        .select(
            "id_a",
            "id_b",
            F.expr("1000 * c div (sz_a + sz_b - c)").alias("jm"),
        )
        .filter(F.col("jm") >= 100)
        .transform(cut_lineage)  # consumed by pair sweep + doc sweep
    )
    return _threshold_sweep(jm)


@register(
    "l72_audio_dedup_resampled",
    oracle="""
    WITH base AS (
      SELECT doc_id, 64 + doc_id % 97 AS n FROM documents
    ),
    orig AS (
      SELECT doc_id, n, unnest(range(CAST(n AS BIGINT))) AS j FROM base
    ),
    ov AS (
      SELECT doc_id, j * 16 // n AS w,
             abs((doc_id * 131 + j * 17) % 4096 - 2048) AS a
      FROM orig
    ),
    oe AS (SELECT doc_id, w, CAST(SUM(a) AS BIGINT) AS e
           FROM ov GROUP BY 1, 2),
    ob AS (
      SELECT doc_id,
             CASE WHEN e > lead(e) OVER (PARTITION BY doc_id ORDER BY w)
                  THEN CAST(1 AS BIGINT) << w ELSE 0 END AS bit
      FROM oe
    ),
    ofp AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS fp_orig
            FROM ob GROUP BY doc_id),
    halfn AS (SELECT doc_id, (n + 1) // 2 AS n2 FROM base),
    half AS (
      SELECT doc_id, n2, unnest(range(CAST(n2 AS BIGINT))) AS j FROM halfn
    ),
    hv AS (
      SELECT doc_id, j * 16 // n2 AS w,
             abs((doc_id * 131 + (2 * j) * 17) % 4096 - 2048) AS a
      FROM half
    ),
    he AS (SELECT doc_id, w, CAST(SUM(a) AS BIGINT) AS e
           FROM hv GROUP BY 1, 2),
    hb AS (
      SELECT doc_id,
             CASE WHEN e > lead(e) OVER (PARTITION BY doc_id ORDER BY w)
                  THEN CAST(1 AS BIGINT) << w ELSE 0 END AS bit
      FROM he
    ),
    hfp AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS fp_half
            FROM hb GROUP BY doc_id)
    SELECT o.doc_id, o.fp_orig, h.fp_half,
           o.fp_orig = h.fp_half AS fp_match
    FROM ofp o JOIN hfp h ON o.doc_id = h.doc_id
    """,
)
def l72_audio_dedup_resampled(spark, sf_dir):
    """Resampling-robust audio dedup — the audio twin of l53's
    rescale-invariant dHash: fingerprint each planted WAV AND its
    2×-decimated re-encode with the 16-window energy-ratio hash
    (operators.audio.wav_fingerprint: decode → per-window |s| energy →
    one bit per adjacent-window comparison, all integer), and report
    whether the two fingerprints collide (the near-dup bucketing key a
    deployment would group on to catch same-content-different-rate
    uploads). Both decodes are REAL in-container codec runs; the
    oracle replays every sample, window boundary (i·16 div n), energy
    sum, and comparison bit arithmetically, so a hash match attests
    the whole decode→window→bit pipeline — including the honest
    finding that decimation SHIFTS window boundaries on odd lengths,
    so some docs legitimately mismatch (fp_match is data, not an
    assertion). Per-row Arrow UDFs; payload bytes never shuffle."""
    from ekati_spark.operators.audio import (
        decimate_wav,
        planted_wav,
        wav_fingerprint,
    )

    @F.pandas_udf("long")
    def fp_orig(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: wav_fingerprint(planted_wav(int(i))))

    @F.pandas_udf("long")
    def fp_half(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda i: wav_fingerprint(decimate_wav(planted_wav(int(i)), 2))
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        fp_orig("doc_id").alias("fp_orig"),
        fp_half("doc_id").alias("fp_half"),
        (fp_orig("doc_id") == fp_half("doc_id")).alias("fp_match"),
    )


@register(
    "l73_temperature_mixture",
    oracle="""
    WITH c AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(lower(text)), ' +')))
                  AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
               AS w
      FROM c
    ),
    t AS (SELECT SUM(w) AS tot FROM w),
    q AS (
      SELECT source, n, w,
             (1000000 * w) // tot AS fl, (1000000 * w) % tot AS rem
      FROM w, t
    ),
    s AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
             (SELECT 1000000 - SUM(fl) FROM q) AS extra
      FROM q
    )
    SELECT source, n AS n_tokens, w AS w_milli,
           CAST(fl + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS BIGINT)
             AS quota_tokens,
           CAST(1000000 *
                (fl + CASE WHEN rr <= extra THEN 1 ELSE 0 END) // n
                AS BIGINT) AS rate_ppm
    FROM s
    """,
)
def l73_temperature_mixture(spark, sf_dir):
    """Temperature-weighted data mixture (the T5/PaLM mixing rule):
    sample sources proportionally to n^alpha with alpha=1/2 instead of
    raw size, so giant crawls stop drowning small high-quality sources.
    Per-source token counts -> weight = floor(sqrt(n)*1000 + 0.5)
    (sqrt is ONE correctly-rounded IEEE op on an exact integer, so both
    engines agree bit-for-bit — the l67 fixed-op doctrine), then a
    1M-token budget apportioned by largest remainder over the weights
    (the l60 Hamilton mechanics — Σ quota == budget EXACTLY), plus each
    source's effective sampling rate in ppm (quota vs its raw tokens:
    >1e6 means upsampling). All integer output; the oracle replays the
    whole allocation.

    Scale shape: one token-count aggregation over the corpus (map-side
    partial, codegen split), then #sources-row window arithmetic —
    the data-sized pass is exactly one."""
    from pyspark.sql import Window as W

    B = 1_000_000
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).cast("long").alias("n")
    )
    w = c.select(
        "source",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000 + 0.5)
        .cast("long")
        .alias("w"),
    )
    wall = W.partitionBy()
    q = w.select(
        "source",
        "n",
        "w",
        F.sum("w").over(wall).alias("tot"),
    ).select(
        "source",
        "n",
        "w",
        F.expr(f"({B} * w) div tot").alias("fl"),
        F.expr(f"({B} * w) % tot").alias("rem"),
    )
    s = q.select(
        "source",
        "n",
        "w",
        "fl",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("rem").desc(), "source"))
        .alias("rr"),
        (F.lit(B) - F.sum("fl").over(wall)).alias("extra"),
    )
    quota = F.col("fl") + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("w").alias("w_milli"),
        quota.cast("long").alias("quota_tokens"),
        F.expr(
            "1000000 * (fl + CASE WHEN rr <= extra THEN 1 ELSE 0 END) div n"
        )
        .cast("long")
        .alias("rate_ppm"),
    )


@register(
    "l75_knn_filtered",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
                  round(list_cosine_similarity(q.qv,
                        CAST(e.embedding AS DOUBLE[])), 6) AS cosine
           FROM embeddings e JOIN q
             ON e.vec_id <> q.query_id AND e.label = q.label
         )
    SELECT query_id, neighbor_id, label, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """,
)
def l75_knn_filtered(spark, sf_dir):
    """METADATA-FILTERED vector search — the operation that separates a
    vector index from a vector DATABASE: top-5 cosine neighbors
    restricted to the query's own label (same-class retrieval — hard
    positives mining, per-tenant search, license-compatible
    augmentation all reduce to this). Implemented as PRE-filtering: the
    label predicate joins INTO the candidate generation (an equi-key
    next to the similarity scoring), so selectivity cuts the scored
    set — post-filtering top-k-then-filter returns <k rows when the
    filter is selective, the classic vector-DB bug. At 100 TB the same
    shape composes with the IVF path: label becomes a second partition
    column on the lists (probe = (label, list) pruning), which is why
    the filter must live on the candidate side, not after the rank.
    Scoring/tie-break contract identical to l06 (6-decimal rounding
    before rank)."""
    from pyspark.sql import Window as W

    from ekati_spark.operators.similarity import _as_double, dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        _as_double(F.col("embedding")).alias("v"),
    ).withColumn("nv", norm(F.col("v")))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("nq", norm(F.col("qv")))
    cos = F.try_divide(
        dot(F.col("qv"), F.col("v")), F.col("nq") * F.col("nv")
    )
    scored = (
        # label equality IS part of candidate generation (pre-filter);
        # the non-equi self-exclusion rides along, scoring stays in the
        # projection (the l06/l33 plan shape)
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("label") == F.col("q_label")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "label", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@register(
    "l74_chunk_embedding_pool",
    oracle="""
    WITH e AS (
      SELECT vec_id // 4 AS doc, vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    d AS (
      SELECT doc, i,
             CAST(SUM(qv[i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc, qv, unnest(range(64)) AS i FROM e)
      GROUP BY doc, i
    )
    SELECT doc AS doc_id, CAST(i AS INTEGER) AS dim,
           CAST(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END
                AS BIGINT) AS pooled_q
    FROM d
    """,
)
def l74_chunk_embedding_pool(spark, sf_dir):
    """Chunk-embedding POOLING — the document-representation step of
    every long-context retrieval/curation pipeline: chunks (groups of 4
    consecutive vec_ids standing in for one document's chunk
    embeddings) mean-pool into a document vector. Pooling runs on the
    int64-quantized grid (floor(x·1024+0.5), the l15 doctrine) with
    exact integer sums and trunc-toward-zero division, emitted in long
    form (doc, dim, pooled_q) so the oracle hash-checks every dimension
    of every pooled vector — not a summary statistic.

    Scale shape: ONE groupBy over (doc, dim) after a posexplode — at
    100 TB this is the canonical narrow-shuffle pooling plan (shuffle
    ∝ chunks×dim, partial map-side sums); the pooled table then feeds
    the ANN index build (l15/l70) unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = S._quant_udf(1024)
    e = emb.select(
        F.expr("vec_id div 4").alias("doc_id"),
        quant(F.col("embedding")).alias("qv"),
    )
    ex = e.select("doc_id", F.posexplode("qv").alias("dim", "q"))
    return (
        ex.groupBy("doc_id", "dim")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            F.expr("s div n").cast("long").alias("pooled_q"),
        )
    )


@register(
    "l76_pii_source_report",
    oracle="""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text, 'https?://[^\\s]+')) AS u,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS e,
             len(regexp_extract_all(text,
               '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS p
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(u) AS BIGINT) AS n_urls,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(p) AS BIGINT) AS n_phones,
           CAST(1000000 * SUM(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS pii_doc_ppm
    FROM d GROUP BY source
    """,
)
def l76_pii_source_report(spark, sf_dir):
    """PII COVERAGE REPORT per source — the compliance-observability
    face of l24's redaction: per ingest source, how many documents
    carry any URL/email/phone, the per-kind totals, and the
    docs-with-PII rate in ppm (integer div — exact). This is the table
    a privacy review asks for before a source is cleared into a
    training mix, and the drift signal a pipeline monitors release
    over release (a source whose pii_doc_ppm jumps changed its
    upstream scraping). Same RE2-compatible patterns as l24 so both
    engines count identically; one codegen scan + one #sources-row
    aggregate — the l69 telemetry doctrine applied to text."""
    docs = load_table(spark, sf_dir, "documents")
    c = X.pii_counts(F.col("text"))
    d = docs.select(
        "source",
        c["url"].alias("u"),
        c["email"].alias("e"),
        c["phone"].alias("p"),
    )
    any_pii = (F.col("u") + F.col("e") + F.col("p") > 0).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(any_pii).alias("n_docs_with_pii"),
            F.sum("u").cast("long").alias("n_urls"),
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("p").cast("long").alias("n_phones"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long"),
            F.col("n_docs_with_pii").cast("long"),
            "n_urls",
            "n_emails",
            "n_phones",
            F.expr("1000000 * n_docs_with_pii div n_docs")
            .cast("long")
            .alias("pii_doc_ppm"),
        )
    )


@register("l77_minhash_persisted", oracle=_l03_oracle())
def l77_minhash_persisted(spark, sf_dir):
    """Persisted MinHash SIGNATURE STORE — the dedup analog of l15's
    on-disk IVF index: signatures are computed once, written to a
    parquet signature table, READ BACK, and the banded-LSH pair
    pipeline runs entirely from the stored table (candidates from
    band_candidates_from_signatures, verification against the hashed
    shingle rows). The oracle is l03's full inline replay, so a hash
    match proves the store round-trips bit-exactly — compute-once
    materialization changes cost, never answers. At 100 TB this is how
    dedup actually runs: per-snapshot signature tables are the
    persisted artifact; each incremental pass band-joins new
    signatures against the store instead of re-shingling the corpus."""

    from ekati_spark.operators.dedup import (
        _signatures_from_rows,
        band_candidates_from_signatures,
        shingle_hash_rows,
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh_rows = shingle_hash_rows(docs).transform(cut_lineage)
    path = mkscratch("l77_sigs_") + "/signatures"
    _signatures_from_rows(sh_rows, 64).write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    cand = band_candidates_from_signatures(stored, num_hashes=64, bands=32)
    return verify_candidate_pairs(cand, sh_rows, threshold=0.1)


@register(
    "l78_split_integrity_audit",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    ),
    g AS (
      SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text),
                                                    '\\s+', ' ', 'g')))
             ) AS group_rep
      FROM corpus
    ),
    s AS (
      SELECT doc_id, group_rep,
             CASE WHEN substr(md5('split' || CAST(group_rep AS VARCHAR)), 1, 8)
                       < '0ccccccc' THEN 'val'
                  WHEN substr(md5('split' || CAST(group_rep AS VARCHAR)), 1, 8)
                       < '19999999' THEN 'test'
                  ELSE 'train' END AS split
      FROM g
    ),
    pairs AS (
      SELECT a.split AS split_a, b.split AS split_b
      FROM s a JOIN s b
        ON a.group_rep = b.group_rep AND a.doc_id < b.doc_id
    )
    SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_dup_pairs,
           split_a <> split_b AS is_leak
    FROM pairs GROUP BY 1, 2
    """,
)
def l78_split_integrity_audit(spark, sf_dir):
    """Split INTEGRITY proof-by-query: join every exact-duplicate pair
    against l40's leakage-safe split assignment and count pairs per
    (split_a, split_b) cell — the audit an eval-governance review runs
    before trusting held-out numbers. Because l40 keys the split on the
    dedup-group representative, every cross-split cell (is_leak=true)
    is structurally EMPTY, and this query proves it by counting rather
    than asserting (duplicates are PLANTED — every 10th doc re-ingested
    under a shifted id — because the synthetic corpus has no exact dups
    of its own and a zero-pair audit would be vacuous) (a per-doc split would light those cells up — that
    failing audit is exactly what this table is for in a real
    pipeline). Same-split cells report the within-split duplicate mass
    that keep-one rewriting (l26/l50) removes. Pair source is the
    dup-group self-join: cost ∝ Σ group², bounded by the dedup pass a
    deployment runs anyway."""
    from pyspark.sql import Window as PW

    from ekati_spark.operators.sampling import train_val_test_split

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # planted duplicates (every 10th doc re-ingested under a shifted id
    # — the synthetic corpus has no exact dups of its own, and an audit
    # over zero pairs proves nothing): both engines replay the planting
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    rep = F.min("doc_id").over(
        PW.partitionBy(F.md5(D.normalized(F.col("text"))))
    )
    with_rep = docs.select("doc_id", rep.alias("group_rep"))
    s = train_val_test_split(with_rep, "group_rep", 0.05, 0.05).select(
        "doc_id", "group_rep", "split"
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.group_rep") == F.col("b.group_rep"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
    )
    return pairs.groupBy("split_a", "split_b").agg(
        F.count("*").alias("n_dup_pairs"),
        (F.col("split_a") != F.col("split_b")).alias("is_leak"),
    ).select(
        "split_a",
        "split_b",
        F.col("n_dup_pairs").cast("long"),
        "is_leak",
    )


# ── ANN-candidate twins of the exact all-pairs headliners ──────────
# l05 (embedding dup pairs) and l45 (bitext margins) are the repo's two
# documented exact all-pairs baselines — correct, oracle-checked, and
# quadratic. These twins run the SAME scoring over deterministic
# sign-LSH candidate sets, the shape a 100 TB cluster actually runs:
# candidate generation shuffles n·L bucketed rows, never the n² pair
# relation. The seeded hyperplanes inline into the oracle as DOUBLE
# literals (the l07 pattern), so DuckDB replays bucket assignment,
# candidate join, and scoring bit-identically — the approximation is
# in the operator's DEFINITION, not its execution.


def _lsh_bucket_exprs(
    vcol: str, n_planes: int, n_tables: int, seed: int = 42, dim: int = 64
) -> str:
    import numpy as np  # noqa: PLC0415

    per_table = []
    for t in range(n_tables):
        rng = np.random.default_rng(seed + t)
        planes = rng.standard_normal((n_planes, dim))
        bits = " + ".join(
            f"(CASE WHEN list_dot_product({vcol}, "
            f"[{', '.join(repr(float(x)) for x in plane)}]::DOUBLE[]) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
            for p, plane in enumerate(planes)
        )
        per_table.append(f"({bits}) + {t << 32}::BIGINT")
    return ", ".join(per_table)


def _l05b_oracle(threshold: float = 0.8) -> str:
    return f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cb AS MATERIALIZED (
      SELECT id, unnest([{_lsh_bucket_exprs("v", 8, 8)}]) AS bucket FROM c
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM cb a JOIN cb b USING (bucket)
      WHERE a.id < b.id
    )
    SELECT id_a, id_b,
           round(list_cosine_similarity(x.v, y.v), 6) AS cosine
    FROM cand JOIN c x ON x.id = cand.id_a JOIN c y ON y.id = cand.id_b
    WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
    """


@register("l05b_dup_pairs_ann", oracle=_l05b_oracle(0.4))
def l05b_dup_pairs_ann(spark, sf_dir):
    """Embedding near-dup pairs over sign-LSH candidate sets — the
    sub-quadratic twin of l05's exact block-grid baseline
    (similarity.embedding_dup_pairs_ann): 8 tables x 8 planes, seeded,
    candidates meet on an equi-join on bucket, identical 6-decimal
    cosine contract. Threshold 0.4 (not l05's 0.8) because the
    synthetic embeddings are near-random — no 0.8-pairs exist at ANY
    test SF, and a hash match over zero rows proves nothing; at 0.4
    the verdict carries real pairs. The oracle replays the buckets
    from inlined plane literals and scores the same candidate set, so
    the approximate operator is exactly checkable. This is the entry
    the 100 TB cluster runs where l05 is the recall oracle.

    The operator picks how pair vectors reach the scorer by corpus
    size: on corpora ≤ 8M floats it gathers vectors from a broadcast
    instead of joining two 64-float payloads onto every candidate pair
    — bit-identical results (tests), measured sf1 interleaved medians
    23.6 s exact vs 4.7 s ANN (5.0×). Per-band recall vs the exact
    pair set is the l85 audit; the candidate set (8 planes × 8 tables)
    is the same on either path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs_ann(
        emb, threshold=0.4, n_planes=8, n_tables=8
    )


def _l45b_oracle(k: int = 4, threshold: float = 1.05) -> str:
    return f"""
    WITH s AS MATERIALIZED (
      SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE label = 0
        AND embedding IS NOT NULL AND len(embedding) = 64
    ),
    t AS MATERIALIZED (
      SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS tv
      FROM embeddings WHERE label = 1
        AND embedding IS NOT NULL AND len(embedding) = 64
    ),
    sb AS MATERIALIZED (
      SELECT src_id, unnest([{_lsh_bucket_exprs("sv", 6, 8)}]) AS bucket
      FROM s
    ),
    tb AS MATERIALIZED (
      SELECT tgt_id, unnest([{_lsh_bucket_exprs("tv", 6, 8)}]) AS bucket
      FROM t
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT src_id, tgt_id FROM sb JOIN tb USING (bucket)
    ),
    pairs AS MATERIALIZED (
      SELECT c.src_id, c.tgt_id,
             round(list_cosine_similarity(sv, tv), 6) AS cosine
      FROM cand c JOIN s USING (src_id) JOIN t USING (tgt_id)
    ),
    ranked AS MATERIALIZED (
      SELECT *,
             row_number() OVER (PARTITION BY src_id
               ORDER BY cosine DESC, tgt_id) AS rs,
             row_number() OVER (PARTITION BY tgt_id
               ORDER BY cosine DESC, src_id) AS rt
      FROM pairs
    ),
    ss AS (SELECT src_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sum_s
           FROM ranked WHERE rs <= {k} GROUP BY 1),
    st AS (SELECT tgt_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sum_t
           FROM ranked WHERE rt <= {k} GROUP BY 1),
    scored AS (
      SELECT r.src_id, r.tgt_id, r.cosine,
             round(r.cosine /
                   (CAST(sum_s + sum_t AS DOUBLE) / {2 * k}), 6) AS margin
      FROM ranked r JOIN ss USING (src_id) JOIN st USING (tgt_id)
    )
    SELECT src_id, tgt_id, cosine, margin
    FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                    ORDER BY margin DESC, tgt_id) AS best FROM scored)
    WHERE best = 1 AND margin >= {threshold}
    """


@register("l45b_bitext_margin_ann", oracle=_l45b_oracle())
def l45b_bitext_margin_ann(spark, sf_dir):
    """Bitext margin mining over sign-LSH candidate pairs — the
    sub-quadratic twin of l45's exact cross-join baseline
    (similarity.bitext_margin_ann): both sides bucket through the same
    seeded 8x6-plane tables, candidates meet on bucket, and the
    identical decimal-stabilized margin formula runs over the candidate
    relation only (neighborhood top-4 sums within candidates — the
    FAISS-candidate practice from the mining literature). Oracle
    replays buckets + margins exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.bitext_margin_ann(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        k=4,
        margin_threshold=1.05,
        n_planes=6,
        n_tables=8,
    )


def _l79_oracle(num_hashes: int = 64, bands: int = 32) -> str:
    """l03's full MinHash replay restricted to pairs touching the 'new'
    batch (doc_id % 10 == 0) — the incremental pass finds exactly the
    full rebuild's pairs that involve a new doc, nothing else."""
    from ekati_spark.operators.dedup import MERSENNE_31

    mins, band_eq = _minhash_sql_parts(num_hashes, bands)
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks
    ),
    h AS (
      SELECT id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
               % {MERSENNE_31} AS h
      FROM sh
    ),
    sig AS (SELECT id, count(*) AS sz, {mins} FROM h GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_eq})
      WHERE a.id % 10 = 0 OR b.id % 10 = 0
    ),
    shared AS (
      SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, count(*) AS n_shared
      FROM cand c
      JOIN h ha ON ha.id = c.id_a
      JOIN h hb ON hb.id = c.id_b AND hb.h = ha.h
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           floor(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared)
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM shared
    WHERE floor(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared)
                * 1000000 + 0.5) / 1000000 >= 0.1
    """


@register("l79_minhash_incremental", oracle=_l79_oracle())
def l79_minhash_incremental(spark, sf_dir):
    """INCREMENTAL near-dup pass against a persisted signature store —
    l46's snapshot-incremental discipline applied to l77's store: the
    corpus is split into an already-signed majority (doc_id % 10 != 0,
    signatures materialized to parquet) and a NEW batch (% 10 == 0).
    The incremental pass shingles + signs ONLY the new batch, appends
    its signatures to the store (plain parquet append — signatures are
    immutable per doc), band-joins the store against itself restricted
    to pairs touching a new doc, and re-shingles ONLY candidate-pair
    members for exact-Jaccard verification. The oracle is the full
    rebuild's pair set filtered to new-doc pairs, so a hash match
    proves increment ≡ rebuild (the append-parity contract l70 proves
    for IVF, here for the dedup store). At 100 TB this is the daily
    dedup run: cost ∝ new-batch shingles + candidate verification, not
    corpus re-signing."""

    from ekati_spark.operators.dedup import (
        _signatures_from_rows,
        band_candidates_from_signatures,
        shingle_hash_rows,
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    store = mkscratch("l79_sigs_") + "/signatures"
    _signatures_from_rows(shingle_hash_rows(old), 64).write.mode(
        "overwrite"
    ).parquet(store)
    # the incremental step: only the new batch is shingled and signed
    _signatures_from_rows(shingle_hash_rows(new), 64).write.mode(
        "append"
    ).parquet(store)
    stored = spark.read.parquet(store)
    cand = (
        band_candidates_from_signatures(stored, num_hashes=64, bands=32)
        .filter((F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0))
        .transform(cut_lineage)  # consumed by member-ids + verification
    )
    members = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # verification re-shingles ONLY candidate members (cost ∝ candidates)
    sh_cand = shingle_hash_rows(docs.join(members, "doc_id", "left_semi"))
    return verify_candidate_pairs(cand, sh_cand, threshold=0.1)


_L80_TERMS = ("vector", "stream", "hash")


def _l80_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _L80_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS l FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN ({terms}) GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY tok),
    scored AS (
      SELECT t.doc_id,
             CAST(floor(
               ln(CAST(2*c.n - 2*f.df + 1 AS DOUBLE)
                  / CAST(2*f.df + 1 AS DOUBLE) + CAST(1 AS DOUBLE))
               * (CAST(44*t.tf*c.l AS DOUBLE)
                  / CAST(20*t.tf*c.l + 6*c.l + 18*d.dl*c.n AS DOUBLE))
               * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)
             ) AS BIGINT) AS smicro
      FROM tf t JOIN dl d ON t.doc_id = d.doc_id
           JOIN dfreq f ON t.tok = f.tok CROSS JOIN c
    ),
    agg AS (SELECT doc_id, CAST(sum(smicro) AS BIGINT) AS score_micro
            FROM scored GROUP BY doc_id)
    SELECT doc_id, score_micro, rank FROM (
      SELECT doc_id, score_micro,
             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                  AS INTEGER) AS rank
      FROM agg
    ) WHERE rank <= 10
    """


@register("l80_bm25_topk", oracle=_l80_oracle())
def l80_bm25_topk(spark, sf_dir):
    """BM25 top-10 ranked retrieval over `documents` for a fixed 3-term
    query — the retrieval primitive a training-data pipeline uses for
    corpus search / quality-by-query probes (reference's declared text
    surface; BM25 per Robertson-Sparck Jones, k1=1.2, b=0.75).

    The whole score is exact cross-engine integer fixed-point (the
    g30/l48 contract): with k1=6/5 and b=3/4, per-term
    idf*(tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl)) folds into
    idf * 44*tf*L / (20*tf*L + 6*L + 18*dl*N) where N = doc count and
    L = total token count — ONE double division over exact BIGINT
    operands, one ln over an exact rational, one multiply, then
    micro-fixed-point floor; per-doc totals are BIGINT sums (order-free)
    and the top-10 tie-break (score desc, doc_id) is exact. N and L
    bind driver-side (two scalars), so the Spark plan is scan → explode
    → three partial-agg groupBys → broadcast df join → WindowGroupLimit
    top-k: every stage map-side-combines and only matching-term rows
    ever reach the window, which at 100 TB is the subset containing the
    query terms, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tot = dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("l")
    ).first()
    tf = (
        toks.filter(F.col("tok").isin(*_L80_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    return _bm25_topk(tf, dl, int(tot["n"]), int(tot["l"]))


def _bm25_topk(tf, dl, n: int, length: int, k: int = 10):
    """The BM25 scoring tail shared by l80 (inline index build), l86
    (persisted incremental index) and l127 (hybrid-fusion lexical arm,
    k=50): takes term-filtered postings ``(doc_id, tok, tf)``, doc
    lengths ``(doc_id, dl)``, and the two corpus scalars; returns the
    exact integer fixed-point top-``k`` under the l80 contract (one
    double division over BIGINT operands, one ln, micro floor, BIGINT
    sum, (score desc, doc_id) tie-break)."""
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(2 * n + 1) - 2 * F.col("df")).cast("double")
        / (2 * F.col("df") + 1).cast("double")
        + F.lit(1.0)
    )
    ratio = (F.lit(44 * length) * F.col("tf")).cast("double") / (
        F.lit(20 * length) * F.col("tf")
        + F.lit(6 * length)
        + F.lit(18 * n) * F.col("dl")
    ).cast("double")
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .select(
            "doc_id",
            F.floor(idf * ratio * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("smicro"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("smicro").alias("score_micro")
    )
    w = W.orderBy(F.desc("score_micro"), "doc_id")
    return (
        agg.select(
            "doc_id",
            "score_micro",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


@register(
    "l81_warc_ingest",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           min(md5(text)) AS min_payload_md5
    FROM documents
    GROUP BY source
    """,
)
def l81_warc_ingest(spark, sf_dir):
    """WARC archive ingest roundtrip — the Common Crawl container
    format as a first-class source (`sources/warc.py`, Spark 4 Python
    DataSource; reference anchor: the WAT/WARC-derived record reader in
    src/server/Services/WatService.cs:82-96). The documents table is
    written out as per-record-gzipped WARC (one gzip member per record,
    the CC layout) from executors through the committing writer, read
    back with `spark.read.format("warc")` (one partition per .gz file;
    plain .warc splits by byte range), and reduced to a per-source
    report keyed by md5 of the raw payload BYTES — so a hash match
    against the oracle (which reads the original table directly)
    proves byte-exact payload survival through frame/compress/decompress
    across executors. At 100 TB this is the ingest front door: file-
    level parallelism over ~64k archive files, payload bytes move
    straight from archive frame to binary column, no driver hop."""

    from ekati_spark.sources import warc as W_

    W_.register(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = mkscratch("l81_warc_") + "/archive"
    (
        docs.select(
            F.concat(F.lit("<urn:doc:"), F.col("doc_id"), F.lit(">")).alias(
                "record_id"
            ),
            F.lit("response").alias("warc_type"),
            F.concat(
                F.lit("http://corpus.example/"),
                F.col("source"),
                F.lit("/"),
                F.col("doc_id"),
            ).alias("target_uri"),
            F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
            F.lit("text/plain").alias("content_type"),
            F.lit(0).cast("bigint").alias("content_length"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        .write.format("warc")
        .option("compression", "gzip")
        .mode("overwrite")
        .save(out)
    )
    back = spark.read.format("warc").load(out)
    return (
        back.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract(
                "target_uri", r"corpus\.example/([^/]+)/", 1
            ).alias("source"),
            F.col("content_length").alias("nb"),
            F.md5("payload").alias("payload_md5"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nb").alias("n_bytes"),
            F.min("payload_md5").alias("min_payload_md5"),
        )
    )


@register(
    "l82_cdc_chunk_dedup",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks0
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    grams AS (
      SELECT doc_id, pos, tok,
             concat_ws(' ',
               lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
               tok) AS gram
      FROM toks
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= 3 AND
                  CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
                    % 8 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM grams
    ),
    assigned AS (
      SELECT doc_id, pos, tok,
             COALESCE(sum(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chash,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM assigned GROUP BY doc_id, chunk_id
    ),
    ranked AS (
      SELECT chash, n_tok,
             row_number() OVER (PARTITION BY chash
                                ORDER BY doc_id, chunk_id) AS rn
      FROM chunks
    )
    SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT)
             AS dup_tokens,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM ranked
    """,
)
def l82_cdc_chunk_dedup(spark, sf_dir):
    """CONTENT-DEFINED chunking + chunk-level dedup — the shift-robust
    twin of l38's fixed 20-token chunks: a boundary falls after token i
    whenever the md5-derived hash of the 4-gram ending at i is ≡ 0
    (mod 8), so boundaries depend only on LOCAL content (avg chunk ~8
    tokens) and an insertion near a doc's head re-synchronizes within
    one gram instead of shifting every later chunk — the property
    dataset-delta dedup and chunk stores (LBFS/rsync lineage) rely on.
    Reports corpus totals: chunks, distinct chunks, duplicate
    occurrences beyond first, and the token volume those duplicates
    represent. All JVM built-ins: posexplode → two window passes (lag
    4-gram, running boundary sum) → ordered listagg per chunk →
    row_number over chunk-hash. Shuffle ∝ tokens (one doc_id exchange
    reused by both windows) then ∝ chunks; boundary decisions need no
    cross-doc state, so the pass is embarrassingly parallel at 100 TB
    and the dedup groupBy is the same digest-keyed shuffle as l01."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = D.cdc_chunk_table(docs, gram=4, mod=8).withColumnRenamed(
        "id", "doc_id"
    )
    ranked = chunks.select(
        "chash",
        "n_tok",
        F.row_number()
        .over(W.partitionBy("chash").orderBy("doc_id", "chunk_id"))
        .alias("rn"),
    )
    return ranked.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chash").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias(
            "dup_chunks"
        ),
        F.sum(F.when(F.col("rn") > 1, F.col("n_tok")).otherwise(0)).alias(
            "dup_tokens"
        ),
        F.sum("n_tok").alias("total_tokens"),
    )


def _l83_ctes(dim: int = 64, scale: int = 1024, iters: int = 3) -> list:
    """The power-iteration CTE chain, shared by l83 (component output)
    and l96 (all-but-the-top debias built ON the component)."""
    ctes = [
        f"""q AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i+1] AS DOUBLE) * {scale}
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qv
      FROM (SELECT vec_id, embedding, unnest(range({dim})) AS i
            FROM embeddings)
    )""",
        "cnt AS MATERIALIZED (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT)"
        " AS n FROM q)",
        "s AS MATERIALIZED (SELECT i, CAST(sum(qv) AS HUGEINT) AS si"
        " FROM q GROUP BY i)",
        """p AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS HUGEINT) AS spq
      FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
    )""",
        """cov AS MATERIALIZED (
      SELECT p.i, p.j, cnt.n * p.spq - sa.si * sb.si AS c
      FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i, cnt
    )""",
        f"v0 AS MATERIALIZED (SELECT unnest(range({dim})) AS i,"
        " CAST(1 AS HUGEINT) AS v)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""u{k} AS MATERIALIZED (
      SELECT cov.i, sum(cov.c * v{k-1}.v) AS u
      FROM cov JOIN v{k-1} ON cov.j = v{k-1}.i GROUP BY cov.i
    )"""
        )
        ctes.append(
            f"m{k} AS MATERIALIZED (SELECT max(abs(u)) AS m FROM u{k})"
        )
        ctes.append(
            f"""v{k} AS MATERIALIZED (
      SELECT i, CAST(CASE WHEN u < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * ((abs(u) * {scale}) // m{k}.m) AS v
      FROM u{k}, m{k}
    )"""
        )
    return ctes


def _l83_oracle(dim: int = 64, scale: int = 1024, iters: int = 3) -> str:
    """Unrolled MATERIALIZED power-iteration replay (the l54 generated-
    oracle pattern): HUGEINT covariance numerator, trunc // rescale."""
    return (
        "WITH "
        + ",\n    ".join(_l83_ctes(dim, scale, iters))
        + f"""
    SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS pc1_q
    FROM v{iters}
    """
    )


@register("l83_pca_power_iteration", oracle=_l83_oracle())
def l83_pca_power_iteration(spark, sf_dir):
    """Top PRINCIPAL COMPONENT of the embedding corpus by
    integer-deterministic power iteration
    (`operators/similarity.pca_top_component`) — the
    whitening/dim-reduction primitive (PCA before IVF/PQ is standard
    index prep), built on the l15/l54 integer methodology so the DuckDB
    oracle replays the ENTIRE computation bit-for-bit: int64-grid
    quantization, exact integer covariance numerator
    C = N·Σqᵢqⱼ − Σqᵢ·Σqⱼ, three power steps with trunc-division
    rescaling (HUGEINT in the oracle, unbounded Python ints on the
    driver). The N-proportional work ships as mapInPandas numpy outer
    products — dim² longs per partition cross the wire, never dim²·N
    rows — and the dim×dim iteration is driver scalars, the k-means
    centroid contract. Returns the 64-dim component on the
    [-1024, 1024] grid. Honesty note: this synthetic corpus is
    near-isotropic (eigengap ~1, the same property that caps raw PQ
    recall), so 3 steps yield an arithmetic-determined rather than
    statistically-converged direction — the oracle hash-match proves
    the DETERMINISM contract; semantic convergence is pinned by the
    planted-anisotropy pytest (test_similarity.py::
    test_pca_top_component_matches_float_eigenvector)."""
    from ekati_spark.operators.similarity import pca_top_component

    embs = load_table(spark, sf_dir, "embeddings")
    v = pca_top_component(embs, iters=3)
    return spark.createDataFrame(
        [(i, int(x)) for i, x in enumerate(v)], "dim long, pc1_q long"
    )


@register(
    "l84_chunk_store_gc",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks0
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    grams AS (
      SELECT doc_id, pos, tok,
             concat_ws(' ',
               lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
               tok) AS gram
      FROM toks
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= 3 AND
                  CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
                    % 8 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM grams
    ),
    assigned AS (
      SELECT doc_id, pos, tok,
             COALESCE(sum(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chash,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM assigned GROUP BY doc_id, chunk_id
    ),
    refs AS (
      SELECT chash,
             max(n_tok) AS n_tok,
             CAST(count(*) AS BIGINT) AS refs_before,
             CAST(sum(CASE WHEN doc_id % 7 != 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS refs_after
      FROM chunks GROUP BY chash
    )
    SELECT CAST(count(*) AS BIGINT) AS n_chunks_before,
           CAST(sum(CASE WHEN refs_after = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gcd,
           CAST(sum(CASE WHEN refs_after > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chunks_after,
           CAST(sum(CASE WHEN refs_after = 0 THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_reclaimed
    FROM refs
    """,
)
def l84_chunk_store_gc(spark, sf_dir):
    """CHUNK-STORE garbage collection — the DELETION lifecycle of
    chunk-level dedup storage (the reference's `Remove`,
    src/core/MemoryStore.fs:18-22, applied to a content-addressed
    store): the corpus's CDC chunk store holds one entry per distinct
    chunk hash with a REFCOUNT (occurrences across docs); deleting a
    document cohort (doc_id % 7 == 0 — a takedown/expiry batch)
    decrements refcounts, and chunks whose count reaches zero are
    GC'd, reclaiming their token volume. Reports store size
    before/after, GC'd entries, and tokens reclaimed; the oracle
    recomputes refcounts from scratch, so a hash match proves the
    decrement path equals the rebuild (the same increment≡rebuild
    contract l70/l79 pin for append, here for delete). At 100 TB the
    GC is one groupBy on the chunk hash joined against the deletion
    feed — cost ∝ deleted docs' chunks + store size, never a corpus
    re-chunk; the identical chunking (gram=4, mod=8) keeps the store
    address-compatible with l82/st21."""
    from ekati_spark.operators.dedup import cdc_chunk_table

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunk_table(docs, gram=4, mod=8)
    refs = chunks.groupBy("chash").agg(
        F.max("n_tok").alias("n_tok"),
        F.count("*").alias("refs_before"),
        F.sum(
            F.when(F.col("id") % 7 != 0, 1).otherwise(0)
        ).alias("refs_after"),
    )
    return refs.agg(
        F.count("*").alias("n_chunks_before"),
        F.sum(F.when(F.col("refs_after") == 0, 1).otherwise(0)).alias(
            "n_gcd"
        ),
        F.sum(F.when(F.col("refs_after") > 0, 1).otherwise(0)).alias(
            "n_chunks_after"
        ),
        F.sum(
            F.when(F.col("refs_after") == 0, F.col("n_tok")).otherwise(0)
        ).alias("tokens_reclaimed"),
    )


def _l85_oracle(threshold: float = 0.4) -> str:
    return f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cb AS MATERIALIZED (
      SELECT id, unnest([{_lsh_bucket_exprs("v", 8, 8)}]) AS bucket FROM c
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM cb a JOIN cb b USING (bucket)
      WHERE a.id < b.id
    ),
    exact AS MATERIALIZED (
      SELECT x.id AS id_a, y.id AS id_b,
             round(list_cosine_similarity(x.v, y.v), 6) AS cosine
      FROM c x JOIN c y ON x.id < y.id
      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
    )
    SELECT CAST(floor(cosine * 10) AS INTEGER) AS band,
           count(*) AS n_pairs,
           CAST(SUM(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(SUM(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) / count(*) AS recall
    FROM exact LEFT JOIN cand USING (id_a, id_b)
    GROUP BY 1
    """


@register("l85_ann_recall_audit", oracle=_l85_oracle())
def l85_ann_recall_audit(spark, sf_dir):
    """Measured recall of the l05b sign-LSH candidate generator against
    the exact block-grid pair set, per cosine decile band — the
    embedding-side analog of l55's MinHash recall audit. For every
    exact pair with cosine ≥ 0.4 (l05b's production threshold), checks
    membership in the (8 planes × 8 tables) candidate relation and
    reports per band: pair count, caught count, and recall (one double
    division — replays exactly).

    This is the committed evidence for the l05b speed/recall trade:
    on the synthetic near-random embeddings the ≥ 0.4 exact pairs
    split into replica pairs (cosine 1.0, recall 1.00 at every swept
    config — identical vectors share every bucket) and the 3σ upper
    tail of the random-cosine distribution (64-dim: random-pair cosine
    is ~N(0, 1/64)), where sign-LSH collision probability is bounded
    by the amplifier 1-(1-(1-acos(c)/pi)^p)^L ≈ 0.19 at c = 0.4 —
    low recall there is a property of noise-tail pairs, not a defect;
    the dedup-relevant bands stay ≥ 0.9. The full (planes × tables)
    sweep with sf1 timings lives in SCALE.md."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    exact = D.embedding_dup_pairs(emb, threshold=0.4)
    cand, _ = S.lsh_candidate_ids(emb, 8, 8)
    hit = cand.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["id_a", "id_b"], "left")
        .select(
            F.floor(F.col("cosine") * 10).cast("int").alias("band"),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("hit").cast("bigint").alias("n_caught"),
        )
        .withColumn("recall", F.col("n_caught") / F.col("n_pairs"))
    )


@register("l86_bm25_index_incremental", oracle=_l80_oracle())
def l86_bm25_index_incremental(spark, sf_dir):
    """INCREMENTAL BM25 index maintenance — l79's increment ≡ rebuild
    discipline applied to the l80 retrieval index. The persisted index
    is three parquet tables: full-vocabulary postings ``(doc_id, tok,
    tf)``, doc lengths ``(doc_id, dl)``, and per-batch corpus-stat
    PARTIALS ``(n_docs, total_len)`` appended once per ingest batch
    and summed at read (st15's mergeable-partial rule — append-only
    state, no read-modify-overwrite). The corpus splits into an
    already-indexed majority (doc_id % 10 != 0, written first) and a
    NEW batch (% 10 == 0): the incremental step tokenizes ONLY the new
    batch and appends its postings/lengths/stat-partial — postings are
    immutable per doc, df and the BM25 scalars derive from the store
    by aggregation, so no stored row is ever rewritten. Scoring the
    l80 query from the incrementally-built store must return l80's
    exact top-10 (same oracle: the full rebuild), so a hash match
    proves the appended index serves rankings identical to re-indexing
    the corpus. At 100 TB this is the daily index refresh: cost ∝ new
    batch tokens, never a corpus re-tokenization."""

    def parts(docs):
        toks = docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
        )
        postings = toks.groupBy("doc_id", "tok").agg(
            F.count("*").alias("tf")
        )
        dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
        stat = dl.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
        )
        return postings, dl, stat

    docs = load_table(spark, sf_dir, "documents")
    base = mkscratch("l86_bm25_")
    for mode, batch in (
        ("overwrite", docs.filter(F.col("doc_id") % 10 != 0)),
        ("append", docs.filter(F.col("doc_id") % 10 == 0)),
    ):
        postings, dl, stat = parts(batch)
        postings.write.mode(mode).parquet(f"{base}/postings")
        dl.write.mode(mode).parquet(f"{base}/dl")
        stat.write.mode(mode).parquet(f"{base}/stats")
    tot = (
        spark.read.parquet(f"{base}/stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("total_len").alias("l"))
        .first()
    )
    tf = spark.read.parquet(f"{base}/postings").filter(
        F.col("tok").isin(*_L80_TERMS)
    )
    dl = spark.read.parquet(f"{base}/dl")
    return _bm25_topk(tf, dl, int(tot["n"]), int(tot["l"]))


def _l87_oracle(threshold: float = 0.3) -> str:
    return f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cb AS MATERIALIZED (
      SELECT id, unnest([{_lsh_bucket_exprs("v", 6, 8)}]) AS bucket
      FROM c WHERE label != 9
    ),
    eb AS MATERIALIZED (
      SELECT id, unnest([{_lsh_bucket_exprs("v", 6, 8)}]) AS bucket
      FROM c WHERE label = 9
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT cb.id AS id_a, eb.id AS id_b
      FROM cb JOIN eb USING (bucket)
    ),
    scored AS (
      SELECT cand.id_a, cand.id_b,
             round(list_cosine_similarity(x.v, y.v), 6) AS cosine
      FROM cand JOIN c x ON x.id = cand.id_a JOIN c y ON y.id = cand.id_b
      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
    )
    SELECT id_a AS doc_vec_id, id_b AS eval_vec_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn
      FROM scored
    ) WHERE rn = 1
    """


@register("l87_semantic_decontamination", oracle=_l87_oracle())
def l87_semantic_decontamination(spark, sf_dir):
    """SEMANTIC decontamination — the embedding-space complement of
    l30's n-gram decontamination (paraphrased benchmark leakage slips
    n-gram matching; modern pipelines additionally flag corpus items
    whose embeddings sit too close to any eval item). The held-out
    benchmark set is label == 9; every other vector is corpus.
    Candidates come from the SAME seeded sign-LSH tables on both sides
    (6 planes × 8 tables — l45b's cross-set shape: shuffle ∝
    (|corpus|+|eval|)·L, never |corpus|·|eval|), scoring reuses the
    join-path pair scorer (per-dim sequential fold, 6-decimal round),
    and each flagged corpus doc reports its single best-matching eval
    item (cosine desc, eval id tie-break). The oracle replays buckets
    from inlined plane literals and the identical best-match window,
    so the approximate flagger is exactly checkable. At 100 TB the
    eval side is benchmark-sized (thousands): its bucket table
    broadcasts, and only same-bucket corpus rows are ever scored —
    decontamination cost ∝ corpus scan + candidates, not the cross
    product."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    from ekati_spark.operators.similarity import (
        _score_pairs_join,
        _sign_lsh_bucket_udf,
    )

    v = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        S.norm("embedding", 64).alias("nv"),
        "label",
    ).transform(cut_lineage)  # consumed by 2 bucket sides + the scorer
    buckets = _sign_lsh_bucket_udf(64, 6, 8, 42)
    def side(pred):
        return v.filter(pred).select(
            "id", F.explode(buckets("v")).alias("bucket")
        )
    par = spark.sparkContext.defaultParallelism
    cand = (
        side(F.col("label") != 9)
        .repartition(par)
        .select(F.col("id").alias("id_a"), "bucket")
        .join(
            side(F.col("label") == 9).select(
                F.col("id").alias("id_b"), "bucket"
            ),
            "bucket",
        )
        .select("id_a", "id_b")
        .distinct()
    )
    scored = (
        _score_pairs_join(cand, v.drop("label"))
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )
    w = W.partitionBy("id_a").orderBy(F.desc("cosine"), "id_b")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_a").alias("doc_vec_id"),
            F.col("id_b").alias("eval_vec_id"),
            "cosine",
        )
    )


def _l88_oracle(k: int = 8) -> str:
    """Unrolled greedy k-center replay: one MATERIALIZED CTE level per
    round (c_i = argmax of the running min-distance m_i; DuckDB inlines
    once-referenced CTEs, so every level is MATERIALIZED — the g39
    lesson). Distances are exact int64 L2^2 on the 1024 grid;
    list_dot_product over integer-valued doubles stays exact below
    2^53 (the l58 contract)."""

    def dist(x: str, cqv: str) -> str:
        return (
            f"CAST(list_dot_product({x}, {x})"
            f" - 2 * list_dot_product({x}, {cqv})"
            f" + list_dot_product({cqv}, {cqv}) AS BIGINT)"
        )

    parts = [
        """e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    )""",
        "c0 AS MATERIALIZED (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT 1)",
        f"""m1 AS MATERIALIZED (
      SELECT e.vec_id, e.qv, {dist('e.qv', 'c.qv')} AS md
      FROM e CROSS JOIN c0 c
    )""",
    ]
    for i in range(1, k):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, qv FROM m{i}"
            f" ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"""m{i + 1} AS MATERIALIZED (
      SELECT m.vec_id, m.qv, least(m.md, {dist('m.qv', 'c.qv')}) AS md
      FROM m{i} m CROSS JOIN c{i} c
    )"""
            )
    cents = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS so, vec_id, qv FROM c{i}"
        for i in range(k)
    )
    parts.append(f"cents AS MATERIALIZED ({cents})")
    parts.append(
        f"""assign AS MATERIALIZED (
      SELECT vec_id, so, d FROM (
        SELECT e.vec_id, cents.so, {dist('e.qv', 'cents.qv')} AS d,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist('e.qv', 'cents.qv')}, cents.so) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT c.so AS sel_order, c.vec_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_assigned,
           coalesce(max(a.d), 0) AS radius_sq
    FROM cents c LEFT JOIN assign a ON a.so = c.so
    GROUP BY c.so, c.vec_id
    """
    )


@register("l88_kcenter_coreset", oracle=_l88_oracle())
def l88_kcenter_coreset(spark, sf_dir):
    """Greedy k-center (farthest-point) coreset over the embedding
    corpus — diversity-maximizing subset selection, the geometric core
    of data-pruning curation (pick the item farthest from everything
    kept so far; Gonzalez's classic 2-approximation of the k-center
    optimum). Complements the REMOVAL-side ops (l37 SemDeDup drops
    near-dups; this SELECTS a maximally spread representative set —
    coreset seeds, eval-probe picks, k-means++ style inits).

    Integer-deterministic (quantized grid + exact int64 L2^2 + id
    tie-breaks), so all k greedy picks, the coverage assignment, and
    the k-center radius replay bit-for-bit in the unrolled DuckDB CTE
    chain (_l88_oracle). Scale: k Arrow scans of the corpus with the
    selected centers as closure literals + TakeOrdered(1) each — no
    corpus shuffle anywhere; see operators/similarity.kcenter_coreset.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kcenter_coreset(emb, k=8)


@register(
    "l89_adaptive_quality_threshold",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    s AS (
      SELECT doc_id, source,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum
      FROM w GROUP BY doc_id, source
    ),
    r AS (
      SELECT doc_id, source, w_sum,
             row_number() OVER (PARTITION BY source
                                ORDER BY w_sum DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source, w_sum
    FROM r WHERE rn <= (n * 3 + 9) // 10
    """,
)
def l89_adaptive_quality_threshold(spark, sf_dir):
    """Per-source adaptive quality filtering (the FineWeb-style stage):
    keep the TOP 30% of documents within each source, ranked by the
    frozen hashed-BoW classifier score (l48's model) — a per-source
    quantile instead of one global cutoff, so weak sources aren't
    over-pruned and strong ones aren't under-pruned. ceil-rational
    k = ceil(0.3 n) with (score desc, doc_id) ranking makes the kept
    set exactly deterministic.

    The Spark side derives each source's cut from a (source, score,
    count) HISTOGRAM + running-total window, then id-ranks only the
    cut-score ties (operators/text.adaptive_quality_topq — at 100 TB
    nothing row-ranks the full corpus per source); the oracle replays
    the same set with the naive per-doc rank window, proving the
    histogram cutover selects identically."""
    docs = load_table(spark, sf_dir, "documents")
    return X.adaptive_quality_topq(docs, q=(3, 10))


def _l90_oracle(k: int = 8, n_buckets: int = 4, k_local: int = 4) -> str:
    """Composable k-center replay: per-bucket greedy chains (one CTE
    level per local pick), a candidate union, the driver-merge greedy
    replayed over the candidate CTE, and the full-corpus labeling —
    all MATERIALIZED (the g39 inlining lesson), all exact int64."""

    def dist(x: str, cqv: str) -> str:
        return (
            f"CAST(list_dot_product({x}, {x})"
            f" - 2 * list_dot_product({x}, {cqv})"
            f" + list_dot_product({cqv}, {cqv}) AS BIGINT)"
        )

    parts = [
        """e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    )"""
    ]
    cand_rows = []
    for b in range(n_buckets):
        parts.append(
            f"e{b} AS MATERIALIZED"
            f" (SELECT vec_id, qv FROM e WHERE vec_id % {n_buckets} = {b})"
        )
        parts.append(
            f"b{b}c0 AS MATERIALIZED"
            f" (SELECT vec_id, qv FROM e{b} ORDER BY vec_id LIMIT 1)"
        )
        parts.append(
            f"""b{b}m1 AS MATERIALIZED (
      SELECT s.vec_id, s.qv, {dist('s.qv', 'c.qv')} AS md
      FROM e{b} s CROSS JOIN b{b}c0 c
    )"""
        )
        cand_rows.append(f"SELECT vec_id, qv FROM b{b}c0")
        for i in range(1, k_local):
            parts.append(
                f"b{b}c{i} AS MATERIALIZED (SELECT vec_id, qv FROM b{b}m{i}"
                f" ORDER BY md DESC, vec_id LIMIT 1)"
            )
            cand_rows.append(f"SELECT vec_id, qv FROM b{b}c{i}")
            if i < k_local - 1:
                parts.append(
                    f"""b{b}m{i + 1} AS MATERIALIZED (
      SELECT m.vec_id, m.qv, least(m.md, {dist('m.qv', 'c.qv')}) AS md
      FROM b{b}m{i} m CROSS JOIN b{b}c{i} c
    )"""
                )
    parts.append(
        "cand AS MATERIALIZED (" + " UNION ALL ".join(cand_rows) + ")"
    )
    parts.append(
        "g0 AS MATERIALIZED"
        " (SELECT vec_id, qv FROM cand ORDER BY vec_id LIMIT 1)"
    )
    parts.append(
        f"""n1 AS MATERIALIZED (
      SELECT s.vec_id, s.qv, {dist('s.qv', 'c.qv')} AS md
      FROM cand s CROSS JOIN g0 c
    )"""
    )
    for i in range(1, k):
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT vec_id, qv FROM n{i}"
            f" ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"""n{i + 1} AS MATERIALIZED (
      SELECT m.vec_id, m.qv, least(m.md, {dist('m.qv', 'c.qv')}) AS md
      FROM n{i} m CROSS JOIN g{i} c
    )"""
            )
    cents = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS so, vec_id, qv FROM g{i}"
        for i in range(k)
    )
    parts.append(f"cents AS MATERIALIZED ({cents})")
    parts.append(
        f"""assign AS MATERIALIZED (
      SELECT vec_id, so, d FROM (
        SELECT e.vec_id, cents.so, {dist('e.qv', 'cents.qv')} AS d,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist('e.qv', 'cents.qv')}, cents.so) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT c.so AS sel_order, c.vec_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_assigned,
           coalesce(max(a.d), 0) AS radius_sq
    FROM cents c LEFT JOIN assign a ON a.so = c.so
    GROUP BY c.so, c.vec_id
    """
    )


@register("l90_kcenter_composable", oracle=_l90_oracle())
def l90_kcenter_composable(spark, sf_dir):
    """Composable-coreset k-center — the SCALE path to l88's greedy:
    one corpus scan runs greedy k-center locally inside each id-keyed
    bucket (applyInPandas, buckets in parallel), the tiny candidate
    union (n_buckets x k_local rows) merges on the driver with the
    same greedy, and one labeling scan reports coverage counts and
    radius. The classic composable-core-set construction for k-center:
    constant-factor approximation of the direct greedy at ONE scan +
    KB-sized merge instead of k scans — the regime for large k where
    l88's k sequential passes stop being affordable. Buckets key on
    id % n_buckets, never physical partitions, so the result is
    invariant under repartitioning and replays bit-for-bit in the
    generated DuckDB chain (_l90_oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kcenter_composable(emb, k=8, n_buckets=4, k_local=4)


@register(
    "l91_maxsim_late_interaction",
    oracle="""
    WITH ch AS (
      SELECT vec_id // 4 AS doc, vec_id % 4 AS chunk,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    q AS (
      SELECT doc AS query_doc, chunk AS qchunk, v,
             sqrt(list_dot_product(v, v)) AS nq
      FROM ch WHERE doc < 3
    ),
    c AS (
      SELECT doc, v, sqrt(list_dot_product(v, v)) AS nc
      FROM ch WHERE doc >= 3
    ),
    s AS (
      SELECT q.query_doc, c.doc, q.qchunk,
             floor(list_dot_product(q.v, c.v) / (q.nq * c.nc)
                   * 1000000 + 0.5) / 1000000 AS cos6
      FROM c CROSS JOIN q
    ),
    m AS (
      SELECT query_doc, doc, qchunk, max(cos6) AS mx
      FROM s GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT query_doc, doc,
             CAST(SUM(CAST(mx AS DECIMAL(25,6))) AS DOUBLE) AS maxsim
      FROM m GROUP BY 1, 2
    )
    SELECT query_doc, doc, maxsim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_doc
                    ORDER BY maxsim DESC, doc) AS rn FROM sc)
    WHERE rn <= 5
    """,
)
def l91_maxsim_late_interaction(spark, sf_dir):
    """ColBERT-style late-interaction retrieval (MaxSim): documents are
    BAGS of chunk vectors (vec_id div 4 groups the embedding corpus
    into 4-chunk docs — the l74 chunking convention) and
    score(q, d) = Σ over q's chunks of the max cosine against any of
    d's chunks, so one hot chunk carries a match that pooled
    single-vector retrieval (l74) averages away. Exact |Qc|·n baseline
    per the l06 contract — the 12-row query chunk table broadcasts,
    per-pair cosine stays in the post-join projection, and the
    max-then-decimal-sum two-level aggregation makes top-5 replay
    bit-for-bit in DuckDB. At 100 TB the corpus side is pre-filtered
    by an ANN candidate stage (IVF l70/l75, sign-LSH l07) feeding the
    identical scoring plan."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    ch = emb.select(
        F.expr("vec_id div 4").alias("doc"),
        (F.col("vec_id") % 4).alias("chunk"),
        F.col("embedding").alias("v"),
    )
    return S.maxsim_topk(
        ch.filter(F.col("doc") >= 3),
        ch.filter(F.col("doc") < 3),
        k=5,
    )


@register(
    "l92_signature_store_gc",
    oracle=_l03_oracle(where="WHERE doc_id % 7 <> 3"),
)
def l92_signature_store_gc(spark, sf_dir):
    """Deletion lifecycle for the persisted MinHash signature store —
    the third leg of the l77 (persist) / l79 (incremental append)
    triad, mirroring the chunk store's l82/st21/l84: a deletion feed
    (doc_id % 7 = 3 — takedowns, opt-outs, retention expiry) anti-joins
    the stored signature table, the survivors REWRITE the store (a
    compaction, never an in-place mutate), and the banded-LSH pair
    pipeline runs from the GC'd store. The oracle replays l03's full
    pipeline over the SURVIVING corpus, so a hash match proves
    GC ≡ rebuild-from-survivors: no deleted doc leaks into a pair, no
    surviving pair is lost. At 100 TB the GC pass costs one store scan
    + anti-join against the (tiny) deletion feed — never a corpus
    re-shingle; the signature store is what makes deletion cheap."""

    from ekati_spark.operators.dedup import (
        _signatures_from_rows,
        band_candidates_from_signatures,
        shingle_hash_rows,
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = mkscratch("l92_sigs_")
    path, path_v2 = base + "/signatures", base + "/signatures_v2"
    # build-once store over the full corpus (the l77 artifact)
    sh_all = shingle_hash_rows(docs).transform(cut_lineage)
    _signatures_from_rows(sh_all, 64).write.mode("overwrite").parquet(path)
    # deletion feed -> anti-join -> compacting rewrite
    feed = docs.filter(F.col("doc_id") % 7 == 3).select(
        F.col("doc_id").alias("id")
    )
    spark.read.parquet(path).join(feed, "id", "left_anti").write.mode(
        "overwrite"
    ).parquet(path_v2)
    stored = spark.read.parquet(path_v2)
    cand = band_candidates_from_signatures(stored, num_hashes=64, bands=32)
    # verification shingles come from the surviving docs only (the GC
    # discipline applies to every derived table, not just signatures)
    sh = shingle_hash_rows(
        docs.filter(F.col("doc_id") % 7 != 3)
    ).transform(cut_lineage)
    return verify_candidate_pairs(cand, sh, threshold=0.1)


def _l93_oracle() -> str:
    """l15's full replay (full-corpus Lloyd — GC never refits frozen
    centroids) with deleted vectors excluded from the CANDIDATE side
    only: exactly what a GC'd index serves."""
    from ekati_spark.queries.base import REGISTRY

    base = REGISTRY["l15_knn_ivf"].oracle
    anchor = "WHERE a3.vec_id <> p.query_id"
    assert base.count(anchor) == 1
    return base.replace(
        anchor, anchor + " AND a3.vec_id % 7 <> 3"
    )


@register("l93_ivf_delete_parity", oracle=_l93_oracle())
def l93_ivf_delete_parity(spark, sf_dir):
    """Deletion lifecycle for the persisted integer IVF index — the
    third leg of build (l15) / append (l70) / compaction, and the
    vector-index mirror of l92's signature GC: a deletion feed
    (vec_id % 7 = 3) anti-joins the list partitions, survivors REWRITE
    the lists (centroids stay FROZEN — deletion never refits; drift
    telemetry decides re-fits separately), and the standard probe runs
    against the GC'd index. The oracle replays l15's full build (Lloyd
    over the ORIGINAL corpus — the centroids the index actually has)
    and drops deleted vectors from the candidate side only, so a hash
    match proves GC ≡ serve-the-survivors: no deleted vector can be
    returned, no surviving neighbor is lost, and ranks re-close over
    the survivors. At 100 TB the GC pass is one list-partitioned scan
    + anti-join against the (tiny) feed, append-compatible with l70's
    incremental segments."""
    import shutil
    from pathlib import Path

    from ekati_spark.operators.similarity import (
        build_ivf_index_int,
        ivf_topk_int_from_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = Path(mkscratch("l93_ivf_"))
    idx, idx_v2 = str(base / "ivf"), str(base / "ivf_v2")
    build_ivf_index_int(emb, idx, n_lists=16, kmeans_iters=2)
    feed = emb.filter(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").alias("neighbor_id")
    )
    spark.read.parquet(f"{idx}/lists").join(
        feed, "neighbor_id", "left_anti"
    ).write.partitionBy("list_id").mode("overwrite").parquet(
        f"{idx_v2}/lists"
    )
    shutil.copytree(f"{idx}/centroids", f"{idx_v2}/centroids")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_topk_int_from_index(spark, idx_v2, q, k=5, n_probe=6)


_L94_GRAMS = """
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
                    t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]
             ))) AS g
      FROM tk
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
    apos AS (
      SELECT DISTINCT {pos} AS pos
      FROM bench, (SELECT unnest(range({k})) AS j)
    ),
    probe AS (
      SELECT doc_id, g, j, {pos} AS pos
      FROM grams, (SELECT unnest(range({k})) AS j)
      WHERE doc_id % 10 <> 0
    ),
    cand AS (
      SELECT doc_id, g
      FROM probe JOIN apos USING (pos)
      GROUP BY doc_id, g
      HAVING count(DISTINCT j) = {k}
    )
"""


def _l94_oracle(k: int | None = None) -> str:
    from ekati_spark.operators.bloom import (
        BLOOM_M_SQL,
        BLOOM_POS_SQL,
        DEFAULT_K,
    )

    if k is None:
        k = DEFAULT_K
    # The oracle re-derives the auto-sized m from the SAME reference
    # count the Spark side uses (bloom_params: integer arithmetic, no
    # ln/ceil floats), so the replayed bitmap is bit-identical.
    m_sql = "(SELECT " + BLOOM_M_SQL.format(n="count(*)") + " FROM bench)"
    return (
        _L94_GRAMS
        + """
    SELECT c.doc_id,
           CAST(count(*) FILTER (b.g IS NOT NULL) AS BIGINT)
             AS n_hit_ngrams,
           CAST(count(*) FILTER (b.g IS NULL) AS BIGINT) AS n_fp_grams
    FROM cand c LEFT JOIN bench b USING (g)
    GROUP BY c.doc_id
    """
    ).format(pos=BLOOM_POS_SQL.format(j="j", val="g", m=m_sql), k=k)


@register("l94_bloom_decontaminate", oracle=_l94_oracle())
def l94_bloom_decontaminate(spark, sf_dir):
    """l30's benchmark decontamination behind a BLOOM prefilter — the
    shape that survives a reference set too large to broadcast-join
    exactly (cross-CORPUS dedup, multi-GB eval suites): the benchmark
    8-gram set packs into an AUTO-SIZED bitmap (bloom_params: next
    multiple of 64 >= 13 bits/member, ~0.9% fp at k=3; one distributed
    bit_or aggregate, operators/bloom.py), the corpus probes it in one
    Arrow pass with ZERO shuffle (k positions cross as k int64
    COLUMNS, not an array — the sf1-measured fast probe form), and
    only the candidate grams (true hits + the bounded false
    positives) reach the exact confirm join.
    Output per contaminated doc: confirmed-hit and false-positive gram
    counts — the fp column attests the one-sided error honestly, and
    the md5-derived bit positions + integer-exact sizing let the
    oracle replay the exact same bitmap from the same reference count,
    so the attestation covers the filter itself, not just the
    survivors. Auto-sizing keeps the fill ratio scale-invariant (~20%
    at any corpus size), fixing the round-10 fixture's saturation at
    sf1 (fixed m=65536 hit ~100% fill -> every probe a candidate);
    deliberate undersizing still saturates gracefully (probe degrades
    to pass-through, the exact join does the work — the l98/st25
    fixtures exercise that path). Reference analog: none (LLM-data
    extension)."""
    import ekati_spark.operators.bloom as BL

    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 10 == 0
    bench_grams = (
        D.shingle_rows(docs.filter(bench_pred), 8).select("g").distinct()
    ).transform(cut_lineage)
    bitmap = BL.bloom_bitmap(bench_grams, "g")  # auto-sized from count
    corpus_grams = D.shingle_rows(docs.filter(~bench_pred), 8)
    cand = BL.bloom_probe(corpus_grams, "g", bitmap).filter(
        "is_candidate"
    )
    # Confirm join: NO broadcast hint — the whole reason this query
    # exists is a reference set too large to broadcast-join exactly, so
    # hinting broadcast on bench_grams would die first at that size.
    # bench_grams is materialized (cut_lineage above), so AQE sees its
    # real size: small fixtures still get a runtime broadcast, oversized
    # reference sets get a shuffle join on g with the candidate side
    # already bloom-bounded (tests/test_bloom.py pins the non-broadcast
    # plan under a lowered autoBroadcastJoinThreshold).
    return (
        cand.join(bench_grams.withColumn("hit", F.lit(1)), "g", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("hit").alias("n_hit_ngrams"),
            (F.count("*") - F.count("hit")).alias("n_fp_grams"),
        )
    )


@register(
    "l95_substring_scrub",
    oracle="""
    WITH tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t
      FROM tkl
    ),
    occ AS (
      SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
      FROM tkl
    ),
    occ2 AS (
      SELECT doc_id, i,
             t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
             t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7] AS g
      FROM occ
    ),
    dup AS (SELECT g FROM occ2 GROUP BY g HAVING count(*) >= 2),
    rem AS (
      SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p
      FROM occ2 JOIN dup USING (g)
    ),
    tok2 AS (SELECT doc_id, i, t[i] AS tok FROM tok)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (r.p IS NOT NULL) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.i)
                 FILTER (r.p IS NULL), '')) AS scrubbed_digest
    FROM tok2 t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.i = r.p
    GROUP BY t.doc_id
    """,
)
def l95_substring_scrub(spark, sf_dir):
    """Corpus-duplicated substring REMOVAL (the rewrite l28 only
    detects): every token covered by an 8-gram occurring >= 2 times
    corpus-wide is dropped and the survivors reassemble in order —
    the "dedup training data" scrub as a bulk transform
    (operators/dedup.py::scrub_duplicate_spans). The result carries
    md5 digests of the rewritten bodies, so the oracle hash-attests
    the exact reassembled strings for all 500+ docs without the
    comparator hauling text. Cost on top of the detector: covered
    positions explode only over DUPLICATED tokens, one anti join, one
    per-doc ordered listagg."""
    docs = load_table(spark, sf_dir, "documents")
    return D.scrub_duplicate_spans(docs, n=8, min_count=2)


def _l96_oracle(dim: int = 64, scale: int = 1024, iters: int = 3) -> str:
    ctes = _l83_ctes(dim, scale, iters) + [
        f"vv AS MATERIALIZED (SELECT sum(v * v) AS vv FROM v{iters})",
        f"""dots AS MATERIALIZED (
      SELECT q.vec_id, sum(q.qv * v{iters}.v) AS d,
             sum(CAST(q.qv AS HUGEINT) * q.qv) AS n2
      FROM q JOIN v{iters} ON q.i = v{iters}.i GROUP BY q.vec_id
    )""",
        f"""e AS MATERIALIZED (
      SELECT q.vec_id, q.i,
             (q.qv * vv.vv - dots.d * v{iters}.v) // vv.vv AS ev
      FROM q JOIN v{iters} ON q.i = v{iters}.i
             JOIN dots ON q.vec_id = dots.vec_id, vv
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT e.vec_id,
           CAST(dots.d AS BIGINT) AS dot_qv,
           CAST(dots.n2 AS BIGINT) AS norm2_q,
           CAST(sum(e.ev * v{iters}.v) AS BIGINT) AS resid_dot,
           CAST(sum(e.ev * e.ev) AS BIGINT) AS resid_norm2
    FROM e JOIN v{iters} ON e.i = v{iters}.i
           JOIN dots ON e.vec_id = dots.vec_id
    GROUP BY e.vec_id, dots.d, dots.n2
    """
    )


@register("l96_embedding_debias", oracle=_l96_oracle())
def l96_embedding_debias(spark, sf_dir):
    """ALL-BUT-THE-TOP embedding debias — remove l83's top principal
    component from every corpus vector on the integer grid
    (operators/similarity.py::debias_top_component), the standard
    isotropy-restoring post-process before cosine retrieval. The
    whole pipeline is oracle-replayed end-to-end: the component via
    the unrolled power-iteration CTE chain (shared with l83), then
    the projection residual as an exact integer numerator with ONE
    trunc division per coordinate — so the DuckDB hash attests the
    DEBIASED VECTORS themselves through their dot/norm scalars
    (resid_dot ≈ 0 up to trunc error is the success measure;
    norm2_q − resid_norm2 is the energy the component carried). At
    100 TB: the N-proportional work is one posexplode + broadcast
    dim-row join + two per-vector aggregates; the covariance pass
    ships dim² longs per partition. Reference analog: none
    (LLM-data extension)."""
    from ekati_spark.operators.similarity import (
        debias_top_component,
        pca_top_component,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    v = pca_top_component(embs, iters=3)
    return debias_top_component(embs, v)


@register(
    "l97_bpe_encode",
    oracle="""
    WITH t0 AS (
      SELECT string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    pc AS (
      SELECT z[1] AS tok_a, z[2] AS tok_b, count(*) AS pair_cnt
      FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
            FROM t0 WHERE len(t) >= 2)
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT tok_a, tok_b
      FROM (SELECT tok_a, tok_b,
                   row_number() OVER (ORDER BY pair_cnt DESC,
                                      tok_a, tok_b) AS rn
            FROM pc)
      WHERE rn <= 30
    ),
    tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tkl
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    pr AS (
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM toks
    ),
    m AS (
      SELECT doc_id, pos
      FROM pr JOIN rules ON pr.tok = rules.tok_a AND pr.nxt = rules.tok_b
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS grp
      FROM m
    ),
    mg AS (
      SELECT doc_id, pos,
             (pos - min(pos) OVER (PARTITION BY doc_id, grp)) % 2 = 0
               AS mrg
      FROM isl
    ),
    fl AS (
      SELECT p.doc_id, p.pos, p.tok, p.nxt, coalesce(mg.mrg, false) AS mrg
      FROM pr p LEFT JOIN mg ON p.doc_id = mg.doc_id AND p.pos = mg.pos
    ),
    em AS (
      SELECT doc_id, pos,
             CASE WHEN mrg THEN tok || '_' || nxt ELSE tok END AS sym,
             mrg,
             coalesce(lag(mrg) OVER (PARTITION BY doc_id ORDER BY pos),
                      false) AS prev
      FROM fl
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (mrg) AS BIGINT) AS n_merges
      FROM em GROUP BY doc_id
    ),
    enc AS (
      SELECT doc_id, md5(string_agg(sym, ' ' ORDER BY pos))
               AS encoded_digest
      FROM em WHERE NOT prev GROUP BY doc_id
    )
    SELECT tot.doc_id, tot.n_tokens, tot.n_merges, enc.encoded_digest
    FROM tot JOIN enc USING (doc_id)
    """,
)
def l97_bpe_encode(spark, sf_dir):
    """BPE ENCODE over the corpus with l44's learned top-30 merge
    table — the missing half of the tokenizer story (l44 trains, this
    applies): every document's token stream is rewritten in one
    left-to-right greedy pass (operators/text.py::bpe_encode_greedy),
    whose "consumed by previous merge" chain reduces to an island
    analysis — windows + one 30-row broadcast semi-join, no iteration,
    no Python. Because the learned rules pair base tokens only, rank
    cascades cannot occur and the single scan IS classic BPE apply
    here; the oracle replays learn + encode end-to-end and the
    per-doc md5 digests attest the exact encoded symbol sequences.
    At 100 TB the encode is one scan-shaped pass (the window shuffle
    is the per-doc sort the detector family already pays), vs k
    sequential corpus rewrites for rank-ordered application."""
    from ekati_spark.operators.text import bpe_encode_greedy

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("t")
    ).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS tok_a, "
                "element_at(t, i + 1) AS tok_b))"
            )
        ).alias("z")
    ).select("z.tok_a", "z.tok_b")
    cnt = pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("pair_cnt"))
    rules = (
        cnt.withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("pair_cnt"), F.asc("tok_a"), F.asc("tok_b"))
            ),
        )
        .filter(F.col("rank") <= 30)
        .select("tok_a", "tok_b")
    )
    return bpe_encode_greedy(docs, rules)


def _l98_oracle(m: int = 4096, k: int = 3) -> str:
    from ekati_spark.operators.bloom import BLOOM_POS_SQL

    pos = BLOOM_POS_SQL.format(j="j", val="v", m=m)
    return f"""
    WITH vals AS (
      SELECT doc_id, trim(lower(text)) AS v FROM documents
    ),
    adds AS (SELECT v FROM vals WHERE doc_id % 4 <> 3),
    dels AS (SELECT v FROM vals WHERE doc_id % 8 = 1),
    cnts AS (
      SELECT pos, sum(d) AS cnt
      FROM (
        SELECT {pos} AS pos, 1 AS d
        FROM adds, (SELECT unnest(range({k})) AS j)
        UNION ALL
        SELECT {pos} AS pos, -1 AS d
        FROM dels, (SELECT unnest(range({k})) AS j)
      )
      GROUP BY pos HAVING sum(d) <> 0
    ),
    surv AS (
      SELECT v FROM (
        SELECT v,
               count(*) FILTER (side = 'a')
                 - count(*) FILTER (side = 'd') AS c
        FROM (SELECT v, 'a' AS side FROM adds
              UNION ALL SELECT v, 'd' AS side FROM dels)
        GROUP BY v
      ) WHERE c >= 1
    ),
    probe AS (
      SELECT doc_id, v, j, {pos} AS pos
      FROM vals, (SELECT unnest(range({k})) AS j)
    ),
    cand AS (
      SELECT p.doc_id, bool_and(coalesce(c.cnt, 0) >= 1) AS candidate
      FROM probe p LEFT JOIN cnts c USING (pos) GROUP BY p.doc_id
    )
    SELECT cand.doc_id, cand.candidate, (s.v IS NOT NULL) AS member
    FROM cand JOIN vals USING (doc_id) LEFT JOIN surv s USING (v)
    """


@register("l98_counting_bloom_gc", oracle=_l98_oracle())
def l98_counting_bloom_gc(spark, sf_dir):
    """COUNTING-bloom ingest ledger with DELETION — the GC leg of the
    bloom family, completing the same lifecycle theme as the
    chunk-store (l84), signature-store (l92), and IVF (l93) delete
    paths: history documents register their normalized-text values
    into per-position COUNTERS (operators/bloom.py::
    counting_bloom_counts), a deletion feed (docs with doc_id % 8 = 1)
    decrements the same positions, and membership stays all-k-counters
    ≥ 1 — so corpus slices retire from the dedup gate WITHOUT
    rebuilding the filter over surviving history, and the counting
    contract preserves no-false-negatives for every survivor through
    arbitrary interleaved GC. Every document then probes the GC'd
    filter with k broadcast hash joins (zero corpus shuffle, no
    Python) and the output attests candidate vs exact-member verdicts
    side by side: fps are visible, false negatives would break the
    hash. Reference analog: none (LLM-data extension)."""
    import ekati_spark.operators.bloom as BL

    M, K = 4096, 3
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("v")
    )
    adds = vals.filter(F.col("doc_id") % 4 != 3).select("v")
    dels = vals.filter(F.col("doc_id") % 8 == 1).select("v")
    counts = BL.counting_bloom_counts(adds, dels, "v", M, K).transform(
        cut_lineage
    )
    probed = BL.counting_bloom_probe(vals, "v", counts, M, K, "candidate")
    surv = (
        adds.withColumn("d", F.lit(1))
        .unionByName(dels.withColumn("d", F.lit(-1)))
        .groupBy("v")
        .agg(F.sum("d").alias("c"))
        .filter(F.col("c") >= 1)
        .select("v", F.lit(True).alias("mem"))
    )
    return probed.join(F.broadcast(surv), "v", "left").select(
        "doc_id",
        "candidate",
        F.coalesce("mem", F.lit(False)).alias("member"),
    )


def _planted_frame_dhashes(spark, sf_dir):
    """Shared frame-hash stage for l99/l104: the sample_frames grid
    over planted durations, a REAL planted PNG per (content stream =
    doc_id % 250, frame second), and dhash_words over the genuinely
    decoded bytes in one Arrow pass. Returns (doc_id, t, h) with h the
    'hi:lo' dHash string."""
    from ekati_spark.operators.multimodal import sample_frames

    # one id-hash exchange that the doc_id window/groupBy downstream
    # reuse; without it the explode -> Arrow decode pipeline runs on
    # the single local parquet split (no-op at real scale)
    docs = D.widen_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    mm = docs.withColumn(
        "media",
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (900 + (F.col("doc_id") * 37) % 9000)
            .cast("long")
            .alias("duration_ms"),
            F.lit("planted").alias("codec"),
        ),
    )
    frames = sample_frames(mm, every_ms=1000).select(
        "doc_id", F.col("frame_ms").alias("t")
    )

    @F.pandas_udf("hi: long, lo: long")
    def fdh(keys: pd.Series, secs: pd.Series) -> pd.DataFrame:
        from ekati_spark.operators.png import (  # noqa: PLC0415
            dhash_words,
            planted_frame_png,
        )

        vals = [
            dhash_words(planted_frame_png(int(k), int(s)))
            for k, s in zip(keys, secs)
        ]
        return pd.DataFrame(vals, columns=["hi", "lo"])

    return frames.withColumn(
        "d", fdh((F.col("doc_id") % 250), (F.col("t") / 1000).cast("long"))
    ).select(
        "doc_id",
        "t",
        F.concat_ws(
            ":", F.col("d.hi").cast("string"), F.col("d.lo").cast("string")
        ).alias("h"),
    ).transform(cut_lineage)  # the decode stage feeds 2+ subtrees in
    # both consumers (l99: shingle sz + pair sides; l104: exact +
    # candidate sides) — without the cut, the zlib/dHash Arrow pass
    # re-executes once per non-reused exchange


# Shared oracle prelude for l99/l104: replays the planted-frame dHash
# closed-form from the md5 hex (9x8 planting => identity resample).
_L99_FRAMES_SQL = """
    WITH base AS (
      SELECT doc_id, 900 + (doc_id * 37) % 9000 AS dur,
             doc_id % 250 AS key
      FROM documents
    ),
    f AS (
      SELECT doc_id, key,
             unnest(range(0, CAST(dur AS BIGINT), 1000)) AS t
      FROM base
    ),
    rowd AS (
      SELECT doc_id, t, y,
             md5('vf:' || CAST(key AS VARCHAR) || ':'
               || CAST(t // 1000 AS VARCHAR) || ':'
               || CAST(y AS VARCHAR)) AS hx
      FROM f, (SELECT unnest(range(0, 8)) AS y)
    ),
    rowb AS (
      SELECT doc_id, t, y,
             list_sum(list_transform(range(0, 8), x ->
               CASE WHEN
                 CAST(('0x' || substr(hx, 1 + 2 * x, 2)) AS INTEGER)
                 <
                 CAST(('0x' || substr(hx, 3 + 2 * x, 2)) AS INTEGER)
               THEN 1 << x ELSE 0 END)) AS rb
      FROM rowd
    ),
    fh AS (
      SELECT doc_id, t,
             CAST(SUM(CASE WHEN y < 4 THEN rb << (8 * y) ELSE 0 END)
                  AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y >= 4 THEN rb << (8 * (y - 4)) ELSE 0 END)
                  AS BIGINT) AS lo
      FROM rowb GROUP BY doc_id, t
    ),
    fhs AS (
      SELECT doc_id, t,
             CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR) AS h
      FROM fh
    ),
    led AS (
      SELECT doc_id, t, h,
             lead(h, 1) OVER (PARTITION BY doc_id ORDER BY t) AS h1,
             lead(h, 2) OVER (PARTITION BY doc_id ORDER BY t) AS h2
      FROM fhs
    ),
    sh AS (
      SELECT doc_id, h || '-' || h1 || '-' || h2 AS s
      FROM led WHERE h2 IS NOT NULL
    )"""


@register(
    "l99_video_neardup",
    oracle=_L99_FRAMES_SQL
    + """,
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST((1000000 * shared) // (sa.sz + sb.sz - shared)
             AS BIGINT) AS jaccard_ppm
    FROM pr JOIN sz sa ON pr.id_a = sa.doc_id
            JOIN sz sb ON pr.id_b = sb.doc_id
    WHERE (1000000 * shared) // (sa.sz + sb.sz - shared) >= 200000
    """,
)
def l99_video_neardup(spark, sf_dir):
    """VIDEO near-duplicate detection — per-frame perceptual hashes
    shingled into temporal 3-grams, pairs by shingle-set Jaccard: the
    production shape for clip/re-upload dedup (frame-level dHash +
    temporal shingles survives trims and re-containering that
    byte-level dedup misses). The frame grid is JVM plumbing
    (operators/multimodal.sample_frames — sequence explode, no
    Python); each frame's payload is a REAL planted PNG
    (png.planted_frame_png: 9x8 grayscale, md5-entropy pixels keyed by
    content stream = doc_id % 250 and frame second, so re-uploads of
    the same stream at different durations collide on their shared
    prefix) and the hash is dhash_words over the genuinely DECODED
    bytes — zlib inflate, unfilter, luminance grid, gradient bits —
    inside one Arrow batch pass (closes the round-10 keyed-hash stub
    seam). The 9x8 planting makes the dHash resample the identity, so
    the oracle replays every gradient bit closed-form from the md5 hex
    without a PNG decoder: a hash match attests the whole
    encode→decode→dHash→shingle→join pipeline. Pair generation is the
    l02 inverted-index self-join (cost ∝ shared-shingle buckets, not
    n²); integer ppm Jaccard with one trunc division keeps the oracle
    bit-exact. At 100 TB: shingle rows ∝ total frames / step; the
    hot-bucket skew of popular clips is the l03 AQE/salting story."""
    fh = _planted_frame_dhashes(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("t")
    led = fh.select(
        "doc_id",
        "h",
        F.lead("h", 1).over(w).alias("h1"),
        F.lead("h", 2).over(w).alias("h2"),
    )
    sh = led.filter(F.col("h2").isNotNull()).select(
        "doc_id",
        F.concat_ws("-", "h", "h1", "h2").alias("s"),
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ex = sh.join(sz, "doc_id")
    a = ex.select(
        F.col("doc_id").alias("id_a"), "s", F.col("sz").alias("sz_a")
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("sz").alias("sz_b"),
    )
    pr = (
        a.join(
            b,
            (F.col("s") == F.col("s_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("shared"))
    )
    out = pr.withColumn(
        "jaccard_ppm",
        F.expr("(1000000 * shared) div (sz_a + sz_b - shared)"),
    )
    return out.filter(F.col("jaccard_ppm") >= 200000).select(
        "id_a", "id_b", "jaccard_ppm"
    )


@register(
    "l100_classifier_pr_audit",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    score AS (
      SELECT doc_id,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum
      FROM w GROUP BY doc_id
    ),
    lab AS (
      SELECT doc_id,
             (len(string_split_regex(trim(lower(text)), ' +'))
                BETWEEN 20 AND 400
              AND CAST(len(list_distinct(string_split_regex(
                    trim(lower(text)), ' +'))) AS DOUBLE)
                  / len(string_split_regex(trim(lower(text)), ' +'))
                  > 0.3) AS label
      FROM documents
    ),
    thr AS (SELECT unnest([-5000, -2000, -1000, 0, 1000, 2000, 5000])
              AS thr),
    cells AS (
      SELECT t.thr,
             CAST(count(*) FILTER (s.w_sum > t.thr AND l.label)
               AS BIGINT) AS tp,
             CAST(count(*) FILTER (s.w_sum > t.thr AND NOT l.label)
               AS BIGINT) AS fp,
             CAST(count(*) FILTER (s.w_sum <= t.thr AND l.label)
               AS BIGINT) AS fn,
             CAST(count(*) FILTER (s.w_sum <= t.thr AND NOT l.label)
               AS BIGINT) AS tn
      FROM score s JOIN lab l USING (doc_id), thr t
      GROUP BY t.thr
    )
    SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
           CAST(CASE WHEN tp + fp = 0 THEN -1
                ELSE (1000000 * tp) // (tp + fp) END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn = 0 THEN -1
                ELSE (1000000 * tp) // (tp + fn) END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN -1
                ELSE (2000000 * tp) // (2 * tp + fp + fn) END AS BIGINT)
             AS f1_ppm
    FROM cells
    """,
)
def l100_classifier_pr_audit(spark, sf_dir):
    """CLASSIFIER CALIBRATION AUDIT — the evaluation step every
    learned quality filter needs before it gates a corpus: sweep the
    frozen hashed-BoW classifier's integer score (l48/l89's shared
    scoring stage, operators/text.quality_score_sums) across a fixed
    threshold grid and report the confusion matrix + integer-ppm
    precision/recall/F1 against the HEURISTIC keep labels (l10's
    length + distinct-ratio rule) as reference. Shape: one scoring
    pass (shuffle ∝ docs), labels from the same scan, then each doc
    explodes onto the 7-threshold grid and ONE aggregate builds every
    cell — at 100 TB the sweep costs 7× one count-aggregate's shuffle
    rows (tiny), never 7 corpus passes. Trunc-division ppm keeps the
    curve hash-exact; -1 marks undefined cells (empty predicted/actual
    positives) instead of a float NaN."""
    from ekati_spark.operators.text import quality_score_sums, tokens

    docs = load_table(spark, sf_dir, "documents")
    score = quality_score_sums(docs).select("doc_id", "w_sum")
    t = F.split(F.trim(F.lower(F.col("text"))), " +")
    lab = docs.select(
        "doc_id",
        (
            F.size(t).between(20, 400)
            & (
                F.size(F.array_distinct(t)).cast("double") / F.size(t)
                > 0.3
            )
        ).alias("label"),
    )
    grid = [-5000, -2000, -1000, 0, 1000, 2000, 5000]
    cells = (
        score.join(lab, "doc_id")
        .select(
            "w_sum",
            "label",
            F.explode(F.array(*[F.lit(x) for x in grid])).alias("thr"),
        )
        .groupBy("thr")
        .agg(
            F.sum(
                ((F.col("w_sum") > F.col("thr")) & F.col("label")).cast(
                    "long"
                )
            ).alias("tp"),
            F.sum(
                ((F.col("w_sum") > F.col("thr")) & ~F.col("label")).cast(
                    "long"
                )
            ).alias("fp"),
            F.sum(
                ((F.col("w_sum") <= F.col("thr")) & F.col("label")).cast(
                    "long"
                )
            ).alias("fn"),
            F.sum(
                ((F.col("w_sum") <= F.col("thr")) & ~F.col("label")).cast(
                    "long"
                )
            ).alias("tn"),
        )
    )
    return cells.select(
        F.col("thr").cast("long").alias("thr"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CAST(CASE WHEN tp + fp = 0 THEN -1"
            " ELSE (1000000 * tp) div (tp + fp) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn = 0 THEN -1"
            " ELSE (1000000 * tp) div (tp + fn) END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN -1"
            " ELSE (2000000 * tp) div (2 * tp + fp + fn) END AS BIGINT)"
        ).alias("f1_ppm"),
    )


@register(
    "l101_winnow_fingerprint_pairs",
    oracle="""
    WITH tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tkl
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    led AS (
      SELECT doc_id, pos, tok,
             lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
             lead(tok, 3) OVER w AS t3
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grams AS (
      SELECT doc_id, pos,
             CAST(('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2 || ' '
               || t3), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM led WHERE t3 IS NOT NULL
    ),
    keyed AS (
      SELECT doc_id, pos, h * 2097152 + (2097151 - pos) AS key FROM grams
    ),
    sel AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS wmin
      FROM keyed
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin // 2097152 AS fph FROM sel WHERE rn >= 5
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def l101_winnow_fingerprint_pairs(spark, sf_dir):
    """WINNOWING document fingerprints (the MOSS algorithm) + overlap
    pairs — the brief's "document fingerprinting (rolling hash)" item
    as Schleimer/Wilkerson/Aiken define it: hash every word 4-gram,
    keep each 5-window's minimum hash (rightmost on ties), and report
    document pairs sharing ≥ 2 fingerprints. The selection guarantee
    (any shared run of ≥ w+k−1 = 8 tokens yields a shared fingerprint)
    makes this the sub-Jaccard-cost plagiarism/quote detector: the
    corpus-wide join runs over the ~2/(w+1)-density fingerprint table,
    not the full shingle table. The per-window argmin is ONE trailing
    window min over the integer key h·2²¹+(2²¹−1−pos) — no UDF, no
    join — and the oracle replays key arithmetic, tie-break, and
    full-window rule exactly (operators/dedup.py::
    winnow_fingerprints). Reference analog: none (LLM-data
    extension)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = D.winnow_fingerprints(docs, k=4, w=5)
    a = fp.select(F.col("id").alias("id_a"), "fph")
    b = fp.select(
        F.col("id").alias("id_b"), F.col("fph").alias("fph_b")
    )
    return (
        a.join(
            b,
            (F.col("fph") == F.col("fph_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@register(
    "l102_frame_decode_coverage",
    oracle="""
    WITH base AS (
      SELECT doc_id, 900 + (doc_id * 37) % 9000 AS dur,
             doc_id % 250 AS key
      FROM documents
    ),
    f AS (
      SELECT doc_id, key,
             unnest(range(0, CAST(dur AS BIGINT), 1000)) // 1000 AS s
      FROM base
    )
    SELECT CAST(doc_id % 4 AS INTEGER) AS grp,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN (key * 7 + s) % 11 <> 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_decoded,
           CAST(SUM(CASE WHEN (key * 7 + s) % 11 = 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_failed,
           CASE WHEN SUM(CASE WHEN (key * 7 + s) % 11 = 3
                         THEN 1 ELSE 0 END) > 0
                THEN 'ValueError' END AS top_err
    FROM f GROUP BY 1
    """,
)
def l102_frame_decode_coverage(spark, sf_dir):
    """Decode-coverage telemetry for the VIDEO-FRAME path — l69's
    undecodable→null observability extended to l99's per-frame decode:
    the same sample_frames grid, but frames where (key*7 + second) %
    11 == 3 get a structurally-valid 16-BIT PNG (outside the codec's
    8-bit contract, png.planted_png16) instead of the 8-bit planted
    frame; the Arrow pass decodes each payload (real zlib/unfilter),
    classifies failures by exception class, and the aggregate reports
    per-group frame counts, decode rate, and top error. The oracle
    predicts every count from the planting rule, so a hash match
    attests both the real frame-decode path and its failure
    classification. Scale: status columns ride the one Arrow pass l99
    already pays; the aggregate is a 4-group count. Reference analog:
    none (LLM-data extension)."""
    from ekati_spark.operators.multimodal import sample_frames

    # one id-hash exchange that the doc_id window/groupBy downstream
    # reuse; without it the explode -> Arrow decode pipeline runs on
    # the single local parquet split (no-op at real scale)
    docs = D.widen_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    mm = docs.withColumn(
        "media",
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (900 + (F.col("doc_id") * 37) % 9000)
            .cast("long")
            .alias("duration_ms"),
            F.lit("planted").alias("codec"),
        ),
    )
    frames = sample_frames(mm, every_ms=1000).select(
        "doc_id",
        (F.col("doc_id") % 250).alias("key"),
        (F.col("frame_ms") / 1000).cast("long").alias("s"),
    )

    @F.pandas_udf("ok: boolean, err: string")
    def fdec(keys: pd.Series, secs: pd.Series) -> pd.DataFrame:
        from ekati_spark.operators.png import (  # noqa: PLC0415
            dhash_words,
            planted_frame_png,
            planted_png16,
        )

        out = []
        for k, s in zip(keys, secs):
            k, s = int(k), int(s)
            payload = (
                planted_png16(k * 7 + s)
                if (k * 7 + s) % 11 == 3
                else planted_frame_png(k, s)
            )
            try:
                dhash_words(payload)
                out.append((True, None))
            except Exception as e:  # noqa: BLE001 — classify, don't mask
                out.append((False, type(e).__name__))
        return pd.DataFrame(out, columns=["ok", "err"])

    st = frames.withColumn("d", fdec("key", "s"))
    return st.groupBy((F.col("doc_id") % 4).cast("int").alias("grp")).agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("d.ok").cast("long")).alias("n_decoded"),
        F.sum((~F.col("d.ok")).cast("long")).alias("n_failed"),
        F.max("d.err").alias("top_err"),
    )


@register(
    "l103_winnow_recall_audit",
    oracle="""
    WITH tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    shx AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             )) AS sh
      FROM tkl
    ),
    ex AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   6) AS jaccard
      FROM shx a JOIN shx b ON a.id < b.id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
    ),
    posed AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tkl
    ),
    toks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok FROM posed
    ),
    wled AS (
      SELECT doc_id, pos, tok,
             lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
             lead(tok, 3) OVER w AS t3
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grams AS (
      SELECT doc_id, pos,
             CAST(('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2 || ' '
               || t3), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM wled WHERE t3 IS NOT NULL
    ),
    keyed AS (
      SELECT doc_id, pos, h * 2097152 + (2097151 - pos) AS key FROM grams
    ),
    sel AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS wmin
      FROM keyed
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin // 2097152 AS fph FROM sel WHERE rn >= 5
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.fph = b.fph AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    fl AS (
      SELECT e.jaccard,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS caught
      FROM ex e LEFT JOIN cand c
        ON e.id_a = c.id_a AND e.id_b = c.id_b
    )
    SELECT CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS j_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           floor(CAST(SUM(caught) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS recall
    FROM fl GROUP BY 1
    """,
)
def l103_winnow_recall_audit(spark, sf_dir):
    """Recall audit of the winnowing pair finder (l101's production
    parameters: 4-gram hashes, 5-window, >= 2 shared fingerprints)
    against exact all-pairs 4-gram Jaccard, per similarity decile —
    the l55 LSH-audit methodology applied to the MOSS fingerprints
    (the round-10 verdict's ask). Winnowing's guarantee is RUN-based
    (any shared token run of >= w+k-1 = 8 tokens collides), not
    Jaccard-based, so there is no closed-form predicted column: the
    report shows what the fingerprint join actually achieves per
    exact-similarity decile. Low deciles staying un-caught is the
    design (scattered shared grams with no run — exactly the join
    volume the ~2/(w+1) fingerprint density saves); the planted
    near-identical decile must be caught completely. Exact side is
    the bounded inverted-index all-pairs join; at 100 TB run the
    audit on a uniform doc sample — per-decile recall is unbiased
    under pair subsampling (operators/dedup.py::winnow_recall_audit).
    Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnow_recall_audit(docs, k=4, w=5, min_shared=2)


@register(
    "l104_temporal_shingle_recall_audit",
    oracle=_L99_FRAMES_SQL
    + """,
    fds AS (SELECT DISTINCT doc_id, h FROM fhs),
    fsz AS (SELECT doc_id, count(*) AS sz FROM fds GROUP BY doc_id),
    fpair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM fds a JOIN fds b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT id_a, id_b,
             round(CAST(shared AS DOUBLE) /
                   (sa.sz + sb.sz - shared), 6) AS jaccard
      FROM fpair JOIN fsz sa ON fpair.id_a = sa.doc_id
                 JOIN fsz sb ON fpair.id_b = sb.doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    fl AS (
      SELECT e.jaccard,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS caught
      FROM ex e LEFT JOIN cand c
        ON e.id_a = c.id_a AND e.id_b = c.id_b
    )
    SELECT CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS j_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           floor(CAST(SUM(caught) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS recall
    FROM fl GROUP BY 1
    """,
)
def l104_temporal_shingle_recall_audit(spark, sf_dir):
    """Recall audit of l99's temporal-shingle candidate generator
    against exact FRAME-SET Jaccard (the round-10 verdict's ask): for
    every pair of videos sharing at least one frame dHash, per
    exact-Jaccard decile, did sharing a temporal 3-gram shingle
    surface the pair? Temporal shingling trades recall on
    low-overlap/reordered pairs (shared frames but never 3 in
    sequence — the join volume it saves) for sequence awareness; this
    measures that trade on the same really-decoded planted frames l99
    hashes (shared _planted_frame_dhashes stage, one Arrow pass). The
    exact side is the bounded frame-hash inverted-index join (frames
    per video are step-sampled, so set sizes stay small at any video
    length); at 100 TB run it on a content-stream sample. Reference
    analog: none (LLM-data extension)."""
    fh = _planted_frame_dhashes(spark, sf_dir)
    fds = fh.select("doc_id", "h").distinct()
    fsz = fds.groupBy("doc_id").agg(F.count("*").alias("sz"))
    exa = fds.join(fsz, "doc_id")
    a = exa.select(
        F.col("doc_id").alias("id_a"), "h", F.col("sz").alias("sz_a")
    )
    b = exa.select(
        F.col("doc_id").alias("id_b"),
        F.col("h").alias("h_b"),
        F.col("sz").alias("sz_b"),
    )
    ex = (
        a.join(
            b,
            (F.col("h") == F.col("h_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("shared"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("t")
    led = fh.select(
        "doc_id",
        "h",
        F.lead("h", 1).over(w).alias("h1"),
        F.lead("h", 2).over(w).alias("h2"),
    )
    sh = led.filter(F.col("h2").isNotNull()).select(
        "doc_id", F.concat_ws("-", "h", "h1", "h2").alias("s")
    )
    ca = sh.select(F.col("doc_id").alias("id_a"), "s")
    cb = sh.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("s_b")
    )
    cand = (
        ca.join(
            cb,
            (F.col("s") == F.col("s_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
        .withColumn("caught", F.lit(1))
    )
    return D.decile_recall_report(ex.join(cand, ["id_a", "id_b"], "left"))


@register(
    "l105_temperature_mixing",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wgt
      FROM c
    ),
    t AS (SELECT SUM(wgt) AS tot FROM w),
    q AS (
      SELECT source, n, wgt,
             (300 * wgt) // tot AS fl, (300 * wgt) % tot AS rem
      FROM w, t
    ),
    s AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
             (SELECT 300 - SUM(fl) FROM q) AS extra
      FROM q
    ),
    quota AS (
      SELECT source, n, wgt,
             CAST(fl + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS BIGINT)
               AS quota
      FROM s
    ),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                        d.doc_id) AS rn
      FROM documents d
    ),
    picked AS (
      SELECT r.source, r.doc_id
      FROM ranked r JOIN quota USING (source)
      WHERE r.rn <= quota.quota
    )
    SELECT q.source, q.n AS n_docs, q.wgt AS weight, q.quota,
           md5(coalesce(string_agg(CAST(p.doc_id AS VARCHAR), ','
                 ORDER BY p.doc_id), '')) AS picked_md5
    FROM quota q LEFT JOIN picked p ON q.source = p.source
    GROUP BY q.source, q.n, q.wgt, q.quota
    """,
)
def l105_temperature_mixing(spark, sf_dir):
    """TEMPERATURE-SCALED multi-source mixing (the mT5/Pile rule):
    sampling weights ∝ n^α with α = 1/2, realized EXACTLY — weight =
    floor(sqrt(n)) (IEEE sqrt is correctly rounded, so floor(sqrt) is
    bit-identical in every engine; no pow/libm hazard), a 300-doc
    budget apportioned over the tempered weights by largest remainder
    (l60's method — Σ quota == budget exactly), and each source's
    quota filled by the deterministic md5 draw (the repo-wide
    replay-reproducible sampling primitive). Output per source: doc
    count, tempered weight, exact quota, and the md5 digest of the
    picked doc ids — the oracle attests the ACTUAL sample, not just
    the allocation. Upweights tail sources (α<1 flattens the source
    distribution) without starving the head — the standard fix for
    majority-language domination in multilingual pretraining mixes.
    Scale: one partial-agg groupBy + windows over #sources rows; the
    per-source pick is one rank window over docs (at extreme scale,
    threshold the uniform md5 key via l89's histogram cutover instead
    of ranking). Reference analog: none (LLM-data extension)."""
    from pyspark.sql import Window as W2

    B = 300
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").alias("n"))
    w = c.select(
        "source",
        "n",
        F.expr(
            "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("wgt"),
    )
    wall = W2.partitionBy()
    q = w.select(
        "source", "n", "wgt", F.sum("wgt").over(wall).alias("tot")
    ).select(
        "source",
        "n",
        "wgt",
        F.expr(f"({B} * wgt) div tot").alias("fl"),
        F.expr(f"({B} * wgt) % tot").alias("rem"),
    )
    s = q.select(
        "source",
        "n",
        "wgt",
        "fl",
        F.row_number()
        .over(W2.partitionBy().orderBy(F.col("rem").desc(), "source"))
        .alias("rr"),
        (F.lit(B) - F.sum("fl").over(wall)).alias("extra"),
    )
    quota = s.select(
        "source",
        "n",
        "wgt",
        (F.col("fl") + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0))
        .cast("long")
        .alias("quota"),
    ).transform(cut_lineage)  # consumed by the pick AND the report
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number()
        .over(
            W2.partitionBy("source").orderBy(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        )
        .alias("rn"),
    )
    picked = ranked.join(F.broadcast(quota.select("source", "quota")), "source").filter(
        F.col("rn") <= F.col("quota")
    )
    digests = picked.groupBy("source").agg(
        F.md5(
            F.expr(
                "listagg(CAST(doc_id AS STRING), ',')"
                " WITHIN GROUP (ORDER BY doc_id)"
            )
        ).alias("picked_md5")
    )
    return (
        quota.join(digests, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("wgt").alias("weight"),
            "quota",
            F.coalesce("picked_md5", F.md5(F.lit(""))).alias("picked_md5"),
        )
    )


_L106_DIM, _L106_PDIM = 64, 16


@register(
    "l106_jl_projection_recall",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {_L106_DIM}
    ),
    rj AS MATERIALIZED (
      SELECT i.i, j.j,
             1 - 2 * (CAST(('0x' || substr(md5('jl:' || CAST(i.i AS VARCHAR)
               || ':' || CAST(j.j AS VARCHAR)), 1, 15)) AS BIGINT) % 2) AS r
      FROM (SELECT unnest(range({_L106_DIM})) AS i) i,
           (SELECT unnest(range({_L106_PDIM})) AS j) j
    ),
    pl AS MATERIALIZED (
      SELECT vec_id, i, qv FROM (
        SELECT vec_id, unnest(range({_L106_DIM})) AS i, qv FROM e
      )
    ),
    proj AS MATERIALIZED (
      SELECT vec_id, j, CAST(SUM(qv[i + 1] * r) AS BIGINT) AS p
      FROM pl JOIN rj USING (i)
      GROUP BY vec_id, j
    ),
    dp AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM((q.p - c.p) * (q.p - c.p)) AS BIGINT) AS d
      FROM proj q JOIN proj c
        ON q.j = c.j AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY d, neighbor_id) AS rn FROM dp
      ) WHERE rn <= 20
    ),
    ex AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qv, q.qv)
                  - 2 * list_dot_product(q.qv, c.qv)
                  + list_dot_product(c.qv, c.qv) AS BIGINT) AS d
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    ex5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY d, neighbor_id) AS rn FROM ex
      ) WHERE rn <= 5
    )
    SELECT e.query_id,
           CAST(count(*) FILTER (c.neighbor_id IS NOT NULL) AS BIGINT)
             AS n_caught,
           CAST(count(*) FILTER (c.neighbor_id IS NOT NULL) AS DOUBLE) / 5
             AS recall_at_5
    FROM ex5 e LEFT JOIN cand c
      ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
    GROUP BY 1
    """,
)
def l106_jl_projection_recall(spark, sf_dir):
    """Johnson-Lindenstrauss RANDOM PROJECTION as an ANN coarse
    ranker, with its recall measured: project the 64-dim integer-grid
    embeddings to 16 dims through a ±1 matrix (entries = md5 parity
    of (i, j) — a database, not 1024 literals: the l54 lesson that
    unrolled literal trees blow up Catalyst), rank by projected
    integer L2, take 20 candidates per query, and report recall@5
    against the exact integer-L2 top-5. The dimensionality-reduction
    quantization family, complementing PQ (l54), SQ8 (l58) and
    sign-LSH (l85) — JL keeps magnitudes, not just signs, so the
    16-int code re-ranks where 1-bit codes can't. Everything stays on
    the integer grid (|p_j| ≤ 2^17, distances ≤ 2^40 — exact in both
    engines), so the oracle replays the projection, both rankings,
    and the recall bit-for-bit. Scale: projection is one 1024-row
    broadcast join + a (vec × 16)-row aggregate; candidate scoring
    shuffles ∝ queries × corpus × 16 — 4× lighter than the 64-dim
    exact join it approximates, and the block-grid/Arrow kernel
    (similarity.py) is the 100-TB scoring path. Reference analog:
    none (LLM-data extension)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _L106_DIM)
    )
    ql = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)"
        ).alias("q"),
    ).transform(cut_lineage)  # consumed by projection AND exact side
    rj = (
        spark.range(_L106_DIM)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(_L106_PDIM).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            (
                1
                - 2
                * (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "",
                                    F.lit("jl:"),
                                    F.col("i").cast("string"),
                                    F.lit(":"),
                                    F.col("j").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("r"),
        )
    )
    proj = (
        ql.join(F.broadcast(rj), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("q") * F.col("r")).alias("p"))
        .transform(cut_lineage)  # query AND corpus sides below
    )
    pq = proj.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "j", F.col("p").alias("pq")
    )
    dp = (
        proj.join(F.broadcast(pq), "j")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(
                (F.col("pq") - F.col("p")) * (F.col("pq") - F.col("p"))
            ).alias("d")
        )
    )
    wq = W.partitionBy("query_id").orderBy("d", "neighbor_id")
    cand = (
        dp.select("query_id", "neighbor_id", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("query_id", "neighbor_id", F.lit(1).alias("caught"))
    )
    eq = ql.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "i", F.col("q").alias("qa")
    )
    ex = (
        ql.join(F.broadcast(eq), "i")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(
                (F.col("qa") - F.col("q")) * (F.col("qa") - F.col("q"))
            ).alias("d")
        )
    )
    ex5 = (
        ex.select("query_id", "neighbor_id", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= 5)
    )
    return (
        ex5.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("caught", F.lit(0))).alias("n_caught"),
            (
                F.sum(F.coalesce("caught", F.lit(0))).cast("double") / 5
            ).alias("recall_at_5"),
        )
    )


@register(
    "l107_soft_dedup_weights",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS digest, CAST(count(*) AS BIGINT) AS dup_count
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id, g.dup_count,
           CAST(1000000 // g.dup_count AS BIGINT) AS weight_ppm
    FROM documents d JOIN g ON md5(d.text) = g.digest
    """,
)
def l107_soft_dedup_weights(spark, sf_dir):
    """SOFT dedup: instead of dropping exact duplicates (l01 keeps one
    per digest group), every copy survives with training weight
    1/dup_count — the duplicate-aware loss-weighting scheme (SoftDeDup
    style) that preserves naturally-frequent content (boilerplate
    licenses, common headers) at its deduplicated influence without a
    hard keep/drop cliff. Weight is integer ppm (one trunc division),
    so the oracle replays it exactly. Scale shape: one hash-groupBy on
    the digest (shuffle ∝ docs, l01's shape) + one digest join back —
    at 100 TB the join is shuffle-on-digest co-partitioned with the
    groupBy, so AQE reuses the exchange. Reference analog: none
    (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("dup_count"))
    )
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .join(g, "digest")
        .select(
            "doc_id",
            "dup_count",
            F.expr("1000000 div dup_count").alias("weight_ppm"),
        )
    )


@register(
    "l108_knn_label_consistency",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    ex AS (
      SELECT q.vec_id AS query_id, q.label AS own_label,
             c.vec_id AS neighbor_id, c.label AS nb_label,
             CAST(list_dot_product(q.qv, q.qv)
                  - 2 * list_dot_product(q.qv, c.qv)
                  + list_dot_product(c.qv, c.qv) AS BIGINT) AS d
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
    ),
    top5 AS (
      SELECT query_id, own_label, nb_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY d, neighbor_id) AS rn FROM ex
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, own_label, nb_label, count(*) AS c
      FROM top5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, own_label, nb_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, nb_label) AS rv FROM votes
      ) WHERE rv = 1
    )
    SELECT own_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN pred_label = own_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_consistent,
           CAST((1000000 * SUM(CASE WHEN pred_label = own_label
                   THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS consistency_ppm
    FROM pred GROUP BY 1
    """,
)
def l108_knn_label_consistency(spark, sf_dir):
    """LABEL-NOISE detection by kNN consistency — the standard weak-
    supervision audit: for every vector, the majority label of its
    exact top-5 integer-L2 neighbors (ties: count desc, label asc);
    a vector whose neighborhood out-votes its own label is a
    mislabeling candidate. Reports per-label vector count, consistent
    count, and integer-ppm consistency — the per-class noise profile
    that decides whether a labeled corpus is trainable as-is. All
    integer on the 1024 grid (dot-expansion distances < 2^27), so the
    oracle replays distances, tie-breaks, votes, and ratios exactly.
    Scale: this is the bounded exact audit (all-pairs over the
    embedded sample — run it on a label-stratified sample at 100 TB);
    the production path feeds the same vote from IVF candidates —
    that path is l108b, which also audits its per-class agreement
    with this exact predictor. Reference analog: none (LLM-data
    extension)."""
    pred = _knn_exact_pred(spark, sf_dir)
    return pred.groupBy(F.col("own_label").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        F.sum(
            F.when(F.col("pred_label") == F.col("own_label"), 1).otherwise(0)
        ).alias("n_consistent"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN pred_label = own_label THEN 1"
            " ELSE 0 END)) div COUNT(*) AS BIGINT)"
        ).alias("consistency_ppm"),
    )


def _knn_vote_pred(top5):
    """Majority vote over (query_id, own_label, nb_label) neighbor
    rows: vote ties break by smallest nb_label — the tail shared by
    the exact (l108) and IVF-backed (l108b) label-consistency audits."""
    votes = top5.groupBy("query_id", "own_label", "nb_label").agg(
        F.count("*").alias("c")
    )
    wv = W.partitionBy("query_id").orderBy(F.col("c").desc(), "nb_label")
    return votes.select(
        "query_id",
        "own_label",
        F.col("nb_label").alias("pred_label"),
        F.row_number().over(wv).alias("rv"),
    ).filter(F.col("rv") == 1)


def _knn_exact_pred(spark, sf_dir):
    """l108's per-vector exact-kNN majority prediction: (query_id,
    own_label, pred_label) from the exact top-5 integer-L2 neighbors —
    shared with l108b, where it is the agreement audit's ground truth.
    The all-pairs scoring runs through the block-grid int-matmul
    kernel (``similarity.exact_self_topk_int``): the previous
    per-dimension equi-join shuffled dim·n² rows (46 s at sf0.1 —
    64× the pair count through the exchange); integer sums are
    order-free, so the distances — and the oracle hash — are
    unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    lab = emb.select("vec_id", "label")
    top5 = (
        # dim=64 restates the filter directly above — skips the
        # one-row inference job (the serve paths are job-count-bound)
        S.exact_self_topk_int(emb, k=5, dim=64)
        .join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("own_label"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nb_label"),
            ),
            "neighbor_id",
        )
        .select("query_id", "own_label", "nb_label")
    )
    return _knn_vote_pred(top5)


def _l108b_oracle() -> str:
    """IVF-backed label-consistency replay: the l15 oracle's entire
    integer-k-means chain (e → c0 → … → a3) is SPLICED verbatim (the
    l123/l124 rule: precondition asserted so l15 drift fails at
    registration), then every vector probes its 6 nearest c2 lists,
    candidates rank by exact int64 L2², votes roll up per class, and
    the exact all-pairs predictor (l108's chain) joins in as the
    agreement audit.

    The list count is NOT a constant: the engine derives it from the
    corpus count (``similarity.auto_n_lists``: smallest power-of-two p
    in [16, 4096] with p² ≥ n), so the oracle computes the SAME count
    with an integer CASE chain over the identically-filtered count and
    feeds it to the seed LIMIT (the l119 auto_n_planes replay
    precedent — both sides derive the knob from the same corpus at any
    sf)."""
    from ekati_spark.operators.similarity import (  # noqa: PLC0415
        auto_n_lists,
    )
    from ekati_spark.queries.base import REGISTRY  # noqa: PLC0415

    base = REGISTRY["l15_knn_ivf"].oracle
    marker = ",\n    qr AS MATERIALIZED"
    if base.count(marker) != 1:
        raise AssertionError(
            "l108b oracle splice: l15's oracle no longer has exactly one "
            "qr CTE boundary — update _l108b_oracle"
        )
    lloyd = base.split(marker, 1)[0]
    # parameterize l15's fixed seed count: LIMIT 16 -> LIMIT (auto nl)
    seed_marker = "ORDER BY vec_id LIMIT 16)"
    if lloyd.count(seed_marker) != 1:
        raise AssertionError(
            "l108b oracle splice: l15's oracle no longer has exactly one "
            "seed LIMIT — update _l108b_oracle"
        )
    c0_marker = "c0 AS MATERIALIZED"
    if lloyd.count(c0_marker) != 1:
        raise AssertionError(
            "l108b oracle splice: l15's oracle no longer has exactly one "
            "c0 CTE — update _l108b_oracle"
        )
    # auto_n_lists as a CASE chain: smallest power-of-two p with p*p >= n
    nl_case = " ".join(
        f"WHEN cnt <= {p * p} THEN {p}"
        for p in (16, 32, 64, 128, 256, 512, 1024, 2048)
    )
    nls = (
        "nls AS MATERIALIZED (\n"
        f"      SELECT CASE {nl_case} ELSE 4096 END AS nl\n"
        "      FROM (SELECT count(*) AS cnt FROM embeddings\n"
        "            WHERE embedding IS NOT NULL AND len(embedding) = 64)\n"
        "    ),\n    "
    )
    assert auto_n_lists(256) == 16 and auto_n_lists(257) == 32  # chain sync
    lloyd = lloyd.replace(c0_marker, nls + c0_marker, 1).replace(
        seed_marker, "ORDER BY vec_id LIMIT (SELECT nl FROM nls))", 1
    )
    return f"""{lloyd},
    lab AS MATERIALIZED (
      SELECT vec_id, label FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    sprobe AS MATERIALIZED (
      SELECT query_id, q, list_id FROM (
        SELECT e.vec_id AS query_id, e.qv AS q, c2.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 CAST(list_dot_product(e.qv, e.qv)
                      - 2 * list_dot_product(e.qv, c2.c)
                      + list_dot_product(c2.c, c2.c) AS BIGINT),
                 c2.list_id) AS rn
        FROM e CROSS JOIN c2
      ) WHERE rn <= 6
    ),
    scand AS MATERIALIZED (
      SELECT p.query_id, a3.vec_id AS neighbor_id,
             CAST(list_dot_product(p.q, p.q)
                  - 2 * list_dot_product(p.q, a3.qv)
                  + list_dot_product(a3.qv, a3.qv) AS BIGINT) AS dist_sq
      FROM sprobe p JOIN a3 ON a3.list_id = p.list_id
      WHERE a3.vec_id <> p.query_id
    ),
    stop5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY dist_sq, neighbor_id) AS rn FROM scand
      ) WHERE rn <= 5
    ),
    svotes AS (
      SELECT t.query_id, ql.label AS own_label, nl.label AS nb_label,
             count(*) AS c
      FROM stop5 t JOIN lab ql ON ql.vec_id = t.query_id
                   JOIN lab nl ON nl.vec_id = t.neighbor_id
      GROUP BY 1, 2, 3
    ),
    spred AS (
      SELECT query_id, own_label, nb_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, nb_label) AS rv FROM svotes
      ) WHERE rv = 1
    ),
    xe AS MATERIALIZED (
      SELECT e.vec_id, lab.label, e.qv FROM e JOIN lab USING (vec_id)
    ),
    xex AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS nb_label,
             CAST(list_dot_product(q.qv, q.qv)
                  - 2 * list_dot_product(q.qv, c.qv)
                  + list_dot_product(c.qv, c.qv) AS BIGINT) AS d
      FROM xe q JOIN xe c ON c.vec_id <> q.vec_id
    ),
    xtop5 AS (
      SELECT query_id, nb_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY d, neighbor_id) AS rn FROM xex
      ) WHERE rn <= 5
    ),
    xvotes AS (
      SELECT query_id, nb_label, count(*) AS c FROM xtop5 GROUP BY 1, 2
    ),
    xpred AS (
      SELECT query_id, nb_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, nb_label) AS rv FROM xvotes
      ) WHERE rv = 1
    )
    SELECT s.own_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN s.pred_label = s.own_label
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           CAST((1000000 * SUM(CASE WHEN s.pred_label = s.own_label
                 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS consistency_ppm,
           CAST(SUM(CASE WHEN s.pred_label = x.pred_label
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_exact,
           CAST((1000000 * SUM(CASE WHEN s.pred_label = x.pred_label
                 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS agree_ppm
    FROM spred s JOIN xpred x USING (query_id)
    GROUP BY 1
    """


@register("l108b_knn_label_consistency_ivf", oracle=_l108b_oracle())
def l108b_knn_label_consistency_ivf(spark, sf_dir):
    """The PRODUCTION form of l108's label-noise audit — the vote fed
    from IVF candidates instead of exact all-pairs (the promise l108's
    docstring priced; the l05/l05b, l127/l127b exact→index precedent):
    the l15 integer-k-means index is built once, EVERY vector probes
    its 6 nearest lists through a distributed Arrow pass (the
    centroid table rides the closure — no driver collect of the query
    side, unlike the dimension-sized-query probe binding), candidates
    rank by exact int64 L2², and the same majority-vote/rollup tail
    produces the per-class consistency profile. The output adds the
    agreement audit: n_agree_exact / agree_ppm — per class, how often
    the IVF-fed vote matches l108's exact predictor (the committed
    recall-style evidence for what the index path trades, next to
    l127b's in_exact_top10 and l85's candidate recall). Deterministic
    end to end, so the oracle replays the spliced l15 Lloyd chain,
    the probe, both vote chains, and the agreement bit-exactly.

    Scale: the list count auto-derives from the corpus count
    (``similarity.auto_n_lists`` ≈ ⌈√n⌉ to a power of two, replayed by
    the oracle's CASE chain — the l119 auto_n_planes precedent), so
    Lloyd assignment AND self-probe candidate volume both hold at
    Θ(n^1.5·n_probe) instead of the fixed-list Θ(n²); scoring is one
    int64 matmul per list inside a grouped Arrow pass, so candidates
    are flops, never shuffled rows (the persisted form partitions
    lists and prunes probes, l75/l93). The exact arm stays what l108
    is: the documented quadratic audit baseline, here doubling as the
    agreement ground truth."""
    emb = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the declared corpus contract (the oracle filters
    # len(embedding) = 64 and builds its CASE/centroid chains at that
    # width) — passing it skips the one-row inference job on the serve
    # path (round-16 verdict item 4: the warm run is job-count-bound)
    topk = S.ivf_self_topk_int(emb, k=5, n_probe=6, kmeans_iters=2, dim=64)
    lab = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    ).select("vec_id", "label")
    top5l = (
        topk.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("own_label"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nb_label"),
            ),
            "neighbor_id",
        )
        .select("query_id", "own_label", "nb_label")
    )
    spred = _knn_vote_pred(top5l)
    xpred = _knn_exact_pred(spark, sf_dir).select(
        "query_id", F.col("pred_label").alias("exact_pred")
    )
    return (
        spred.join(xpred, "query_id")
        .groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(
                F.when(F.col("pred_label") == F.col("own_label"), 1)
                .otherwise(0)
            ).alias("n_consistent"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN pred_label = own_label"
                " THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("consistency_ppm"),
            F.sum(
                F.when(F.col("pred_label") == F.col("exact_pred"), 1)
                .otherwise(0)
            ).alias("n_agree_exact"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN pred_label = exact_pred"
                " THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("agree_ppm"),
        )
    )


@register(
    "l109_shingle_containment_pairs",
    oracle="""
    WITH tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    shx AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 3, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                    t[i+3] || ' ' || t[i+4]
             )) AS sh
      FROM tkl
    ),
    pr AS (
      SELECT a.id AS id_a, b.id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS shared,
             len(a.sh) AS sz_a, len(b.sh) AS sz_b
      FROM shx a JOIN shx b ON a.id < b.id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
    )
    SELECT id_a, id_b,
           CAST((1000000 * shared) // sz_a AS BIGINT) AS cont_a_in_b_ppm,
           CAST((1000000 * shared) // sz_b AS BIGINT) AS cont_b_in_a_ppm
    FROM pr
    WHERE greatest((1000000 * shared) // sz_a,
                   (1000000 * shared) // sz_b) >= 500000
    """,
)
def l109_shingle_containment_pairs(spark, sf_dir):
    """CONTAINMENT dedup (doc-in-doc): directional shingle containment
    C(A→B) = |A∩B|/|A| instead of symmetric Jaccard — the detector for
    EXCERPT/QUOTE/superset relationships that Jaccard structurally
    misses (a 50-token quote inside a 5000-token page has Jaccard
    ~0.01 but containment ~1.0; near-dup pipelines that only threshold
    Jaccard ship the duplication anyway). Reports both directions in
    integer ppm (trunc division — oracle-exact) for every
    shingle-sharing pair where either direction ≥ 0.5. Same
    inverted-index self-join as the Jaccard finder (cost ∝ Σ shingle
    bucket², never docs²); at 100 TB the asymmetric threshold prunes
    in the HAVING, and MinHash signatures estimate containment the
    same way they estimate Jaccard when the exact join outgrows the
    sample. Reference analog: none (LLM-data extension)."""
    rows = D.shingle_rows(load_table(spark, sf_dir, "documents"), 5)
    rows = rows.transform(cut_lineage)
    sz = rows.groupBy("id").agg(F.count("*").alias("sz"))
    ex = rows.join(sz, "id")
    a, b = ex.alias("a"), ex.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    out = pr.select(
        "id_a",
        "id_b",
        F.expr("(1000000 * shared) div sz_a").alias("cont_a_in_b_ppm"),
        F.expr("(1000000 * shared) div sz_b").alias("cont_b_in_a_ppm"),
    )
    return out.filter(
        F.greatest("cont_a_in_b_ppm", "cont_b_in_a_ppm") >= 500000
    )


# l53's closed-form dHash replay (the planted-PNG gradient bits), shared
# by the hamming-banded near-dup below.
_L110_DHASH_SQL = """
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w0,
             4 + doc_id % 7 AS h0,
             [(doc_id * 7) % 256, (doc_id * 7 + 37) % 256,
              (doc_id * 7 + 74) % 256, (doc_id * 7 + 111) % 256] AS q
      FROM documents
    ),
    rows_ AS (
      SELECT doc_id, w0, h0, q, unnest(range(0, 8)) AS y FROM g
    ),
    rowbytes AS (
      SELECT doc_id, y,
             list_sum(list_transform(range(0, 8), x ->
               CASE WHEN
                 q[1 + (CASE WHEN (y * h0) // 8 >= h0 // 2 THEN 2 ELSE 0 END)
                    + (CASE WHEN (x * w0) // 9 >= w0 // 2 THEN 1 ELSE 0 END)]
                 <
                 q[1 + (CASE WHEN (y * h0) // 8 >= h0 // 2 THEN 2 ELSE 0 END)
                    + (CASE WHEN ((x + 1) * w0) // 9 >= w0 // 2
                       THEN 1 ELSE 0 END)]
               THEN 1 << x ELSE 0 END)) AS rb
      FROM rows_
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN y < 4 THEN rb << (8 * y) ELSE 0 END)
                  AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y >= 4 THEN rb << (8 * (y - 4)) ELSE 0 END)
                  AS BIGINT) AS lo
      FROM rowbytes GROUP BY doc_id
    )"""


@register(
    "l110_image_hamming_neardup",
    oracle=_L110_DHASH_SQL
    + """,
    bands AS (
      SELECT doc_id, hi, lo, b.bi,
             CASE b.bi WHEN 0 THEN hi % 65536
                       WHEN 1 THEN hi // 65536
                       WHEN 2 THEN lo % 65536
                       ELSE lo // 65536 END AS bv
      FROM hashes, (SELECT unnest(range(0, 4)) AS bi) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(ha.hi, hb.hi))
                + bit_count(xor(ha.lo, hb.lo)) AS BIGINT) AS hamming
    FROM cand c JOIN hashes ha ON c.id_a = ha.doc_id
                JOIN hashes hb ON c.id_b = hb.doc_id
    WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo))
          BETWEEN 1 AND 6
    """,
)
def l110_image_hamming_neardup(spark, sf_dir):
    """HAMMING-tolerant image near-dup — the banding trick applied to
    l53's perceptual dHash: identical images collide exactly (l53's
    bucket), but a re-encode with mild noise flips a few gradient
    bits and exact grouping misses it; splitting the 64-bit hash into
    4 × 16-bit bands guarantees any pair within hamming ≤ 3 shares an
    intact band (pigeonhole), and pairs up to 6 are caught unless the
    flips spread across all four bands. Candidates = band-bucket
    join (cost ∝ bucket², never images²); verification = two XOR +
    popcount ops per pair, reported for 1 ≤ hamming ≤ 6 (0 is l53's
    exact-dup bucket). Hashes come from the REAL decode path (l53's
    planted-PNG dHash over decoded bytes); the oracle replays hash,
    banding, and popcounts closed-form. At 100 TB: the four band
    tables are the blocking index an image-dedup service persists;
    popular-image hot buckets are the usual AQE/salting story.
    Reference analog: none (LLM-data extension)."""
    from ekati_spark.operators.png import dhash_words, planted_png

    @F.pandas_udf("hi: long, lo: long")
    def dh(ids: pd.Series) -> pd.DataFrame:
        vals = [dhash_words(planted_png(int(i))) for i in ids]
        return pd.DataFrame(vals, columns=["hi", "lo"])

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashes = docs.withColumn("d", dh("doc_id")).select(
        "doc_id", F.col("d.hi").alias("hi"), F.col("d.lo").alias("lo")
    ).transform(cut_lineage)  # banded twice + verified once
    bands = hashes.select(
        "doc_id",
        "hi",
        "lo",
        F.posexplode(
            F.array(
                F.col("hi") % 65536,
                F.expr("hi div 65536"),
                F.col("lo") % 65536,
                F.expr("lo div 65536"),
            )
        ).alias("bi", "bv"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), "bi", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("bi").alias("bi_b"),
        F.col("bv").alias("bv_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("bi") == F.col("bi_b"))
            & (F.col("bv") == F.col("bv_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
    )
    hb = hashes.select(
        F.col("doc_id").alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
    )
    out = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.bit_count(F.expr("hi_a ^ hi_b"))
                + F.bit_count(F.expr("lo_a ^ lo_b"))
            ).cast("long").alias("hamming"),
        )
    )
    return out.filter(F.col("hamming").between(1, 6))


@register(
    "l111_kmv_containment_audit",
    oracle="""
    WITH tkl AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    shx AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 3, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                    t[i+3] || ' ' || t[i+4]
             )) AS sh
      FROM tkl
    ),
    rows_ AS (SELECT id, unnest(sh) AS g FROM shx),
    hashed AS (
      SELECT id, g,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM rows_
    ),
    sz AS (SELECT id, count(*) AS sz FROM rows_ GROUP BY id),
    samp AS (
      SELECT id, g FROM (
        SELECT id, g, row_number() OVER (PARTITION BY id
                      ORDER BY h, g) AS rn
        FROM hashed
      ) WHERE rn <= 64
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM samp a JOIN samp b ON a.g = b.g AND a.id < b.id
    ),
    hits AS (
      SELECT c.id_a, c.id_b, count(*) AS nhit
      FROM cand c
      JOIN samp s ON s.id = c.id_a
      JOIN rows_ r ON r.id = c.id_b AND r.g = s.g
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             (1000000 * coalesce(h.nhit, 0))
               // least(CAST(64 AS BIGINT), sa.sz) AS est_ppm,
             (1000000 * len(list_intersect(xa.sh, xb.sh))) // sa.sz
               AS exact_ppm
      FROM cand c
      LEFT JOIN hits h ON c.id_a = h.id_a AND c.id_b = h.id_b
      JOIN sz sa ON c.id_a = sa.id
      JOIN shx xa ON c.id_a = xa.id
      JOIN shx xb ON c.id_b = xb.id
    )
    SELECT CAST(least(exact_ppm // 100000, 9) AS INTEGER) AS c_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(est_ppm - exact_ppm)) // count(*) AS BIGINT)
             AS mean_abs_err_ppm
    FROM est GROUP BY 1
    """,
)
def l111_kmv_containment_audit(spark, sf_dir):
    """KMV (bottom-k) CONTAINMENT estimator + error audit — the
    sub-quadratic scale path for l109's exact containment: each doc
    keeps only its 64 smallest-md5 5-gram shingles (a bottom-k sketch
    of the set — fixed size however long the doc), candidate pairs
    come from sampled-shingle collisions (blocking density
    min(64,|A|)/|A|, so the self-join runs over the SKETCH table, not
    the corpus shingle table), and C(A→B) is estimated as the fraction
    of A's sampled shingles present in B — an unbiased uniform-sample
    estimate needing one bounded semi-join per candidate pair. The
    audit reports, per exact-containment decile, the pair count and
    mean |estimate − exact| in integer ppm (trunc divisions only), so
    the estimator's error curve is hash-attested the way l55 attests
    LSH recall. At 100 TB: sketches are 64 rows/doc however large the
    corpus; the exact side exists only in this audit (run on a
    sample); production thresholds on the estimate alone. Reference
    analog: none (LLM-data extension)."""
    rows = D.shingle_rows(load_table(spark, sf_dir, "documents"), 5)
    rows = rows.transform(cut_lineage)  # sketch + sizes + exact side
    hashed = rows.select(
        "id",
        "g",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias(
            "h"
        ),
    )
    sz = rows.groupBy("id").agg(F.count("*").alias("sz"))
    wk = W.partitionBy("id").orderBy("h", "g")
    samp = (
        hashed.select("id", "g", F.row_number().over(wk).alias("rn"))
        .filter(F.col("rn") <= 64)
        .select("id", "g")
        .transform(cut_lineage)  # joined three times below
    )
    a = samp.select(F.col("id").alias("id_a"), "g")
    b = samp.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"))
    cand = (
        a.join(
            b,
            (F.col("g") == F.col("g_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
        .transform(cut_lineage)  # hits join + est join
    )
    rows_b = rows.select(F.col("id").alias("id_b"), "g")
    hits = (
        cand.join(samp.select(F.col("id").alias("id_a"), "g"), "id_a")
        .join(rows_b, ["id_b", "g"])  # two-key equi-join: (doc, gram)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("nhit"))
    )
    shared = (
        cand.join(rows.select(F.col("id").alias("id_a"), "g"), "id_a")
        .join(rows_b, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    est = (
        cand.join(hits, ["id_a", "id_b"], "left")
        .join(shared, ["id_a", "id_b"], "left")
        .join(sz.select(F.col("id").alias("id_a"), "sz"), "id_a")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "(1000000 * coalesce(nhit, 0))"
                " div least(CAST(64 AS BIGINT), sz)"
            ).alias("est_ppm"),
            F.expr("(1000000 * coalesce(shared, 0)) div sz").alias(
                "exact_ppm"
            ),
        )
    )
    return (
        est.withColumn(
            "c_bucket",
            F.least(F.expr("exact_ppm div 100000"), F.lit(9).cast("bigint"))
            .cast("int"),
        )
        .groupBy("c_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr(
                "CAST(SUM(abs(est_ppm - exact_ppm)) div COUNT(*) AS BIGINT)"
            ).alias("mean_abs_err_ppm"),
        )
    )


_L112_ORACLE = """
    WITH tok AS (
      SELECT d.source, d.doc_id, t.i, t.tok FROM documents d,
        LATERAL (SELECT unnest(range(1, len(string_split_regex(
                   trim(lower(d.text)), ' +')) + 1)) AS i,
                 unnest(string_split_regex(trim(lower(d.text)), ' +'))
                   AS tok) t
    ),
    nsrc AS (SELECT source, count(DISTINCT doc_id) AS n FROM tok GROUP BY 1),
    df AS (
      SELECT source, tok, count(DISTINCT doc_id) AS df
      FROM tok GROUP BY 1, 2
    ),
    vocab AS (
      SELECT df.source, df.tok
      FROM df JOIN nsrc USING (source)
      WHERE 10 * df.df >= 6 * nsrc.n
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.tok IS NOT NULL) AS BIGINT)
             AS n_removed,
           md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.i)
                 FILTER (v.tok IS NULL), '')) AS scrubbed_digest
    FROM tok t LEFT JOIN vocab v
      ON t.source = v.source AND t.tok = v.tok
    GROUP BY t.doc_id
"""


@register("l112_source_stopword_scrub", oracle=_L112_ORACLE)
def l112_source_stopword_scrub(spark, sf_dir):
    """Per-SOURCE boilerplate vocabulary removal — the
    document-frequency stopword filter (CCNet/RefinedWeb style,
    applied per domain): a token appearing in ≥ 60% of a source's
    documents is that source's boilerplate (navigation chrome,
    domain-specific fillers) and is dropped from every document of
    the source; survivors reassemble in order and the result carries
    per-doc md5 digests — the oracle hash-attests the exact rewritten
    bodies without hauling text (l95's attestation pattern at
    vocabulary granularity; the ratio threshold is integer-exact:
    10·df ≥ 6·n). Complements l95 (exact corpus-duplicated n-grams)
    with the frequency-ratio axis: l95 catches verbatim duplication,
    this catches domain chrome that never repeats as a full 8-gram.
    Scale: DF counting is one (source, token) hash-groupBy (shuffle ∝
    distinct tokens); the vocab is a per-source broadcast; the scrub
    is one token-stream pass + per-doc ordered listagg — no
    corpus-wide joins. Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), " +")).alias(
            "i", "tok"
        ),
    ).transform(cut_lineage)  # DF counting AND the scrub pass
    nsrc = tok.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n")
    )
    df = tok.groupBy("source", "tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    vocab = (
        df.join(F.broadcast(nsrc), "source")
        .filter(10 * F.col("df") >= 6 * F.col("n"))
        .select("source", "tok", F.lit(1).alias("bp"))
    )
    return _scrub_with_vocab(tok, vocab)


def _scrub_with_vocab(tok, vocab):
    """l112's scrub tail, shared with the streaming twin (st29): drop
    every token in the per-source boilerplate ``vocab``, reassemble
    survivors in order, emit per-doc md5 digests."""
    flagged = tok.join(F.broadcast(vocab), ["source", "tok"], "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count("bp").alias("n_removed"),
        F.md5(
            F.coalesce(
                F.expr(
                    "listagg(CASE WHEN bp IS NULL THEN tok END, ' ')"
                    " WITHIN GROUP (ORDER BY i)"
                ),
                F.lit(""),
            )
        ).alias("scrubbed_digest"),
    )


def _l114_oracle(num_hashes: int = 32, bands: int = 16) -> str:
    """l03's banding replay + exact verification + recursive-CTE
    connected components — the full production dedup-group pipeline
    attested end-to-end in SQL."""
    from ekati_spark.operators.dedup import MERSENNE_31

    mins, band_eq = _minhash_sql_parts(num_hashes, bands)
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    sh AS (
      SELECT id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks
    ),
    h AS (
      SELECT id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
               % {MERSENNE_31} AS h
      FROM sh
    ),
    sig AS (SELECT id, count(*) AS sz, {mins} FROM h GROUP BY id),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
      FROM sig a JOIN sig b ON a.id < b.id AND ({band_eq})
    ),
    shared AS (
      SELECT cd.id_a, cd.id_b, cd.sz_a, cd.sz_b, count(*) AS c
      FROM cand cd
      JOIN h ha ON ha.id = cd.id_a
      JOIN h hb ON hb.id = cd.id_b AND hb.h = ha.h
      GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      WHERE floor(CAST(c AS DOUBLE) / (sz_a + sz_b - c)
                  * 1000000 + 0.5) / 1000000 >= 0.5
    ),
    und AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.d, reach.r FROM und u JOIN reach ON u.s = reach.id
    )
    SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
    """


@register("l114_lsh_dedup_groups", oracle=_l114_oracle())
def l114_lsh_dedup_groups(spark, sf_dir):
    """The PRODUCTION dedup end-product on the production substrate:
    near-dup GROUPS (transitive closure into min-id-labeled clusters,
    "keep one per group") over MinHash-banded, exactly-verified pairs
    at Jaccard >= 0.5. Completes the family: l20 resolves groups over
    the exact all-pairs substrate (bounded subset — cost ∝ bucket²),
    l03 emits banded pairs without grouping; this is the composition a
    100 TB corpus actually runs — banding bounds candidate generation,
    verification keeps the threshold exact, and the alternating-star
    CC kernel (operators/dedup.py::dedup_groups) iterates over the dup
    subgraph only, never the corpus. Oracle replays banding,
    verification, AND reachability (recursive CTE) end-to-end.
    Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=32, bands=16
    )
    return D.dedup_groups(docs, pairs)


@register(
    "l115_packing_efficiency",
    oracle="""
    WITH nt AS (
      SELECT doc_id, doc_id % 64 AS bucket,
             CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT bucket,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 2048) AS BIGINT) AS pack_id,
             n_tokens
      FROM nt
    ),
    per_pack AS (
      SELECT bucket, pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM packed GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS tokens,
           CAST(sum(tokens) * 1000000 // (count(*) * 2048) AS BIGINT)
             AS fill_ppm,
           CAST(max(tokens) AS BIGINT) AS max_pack_tokens
    FROM per_pack GROUP BY bucket
    """,
)
def l115_packing_efficiency(spark, sf_dir):
    """Packing-efficiency AUDIT of l25's training-sequence packing —
    the KPI every packing deployment tracks (fill ratio = paid tokens
    / budgeted capacity): per hash bucket, the pack count, doc count,
    token total, integer-exact fill ppm (tokens·1e6 div n_packs·2048),
    and the largest pack. Pure replay-then-aggregate: the packing
    window is l25's exact bucketed prefix-sum (X.pack_sequences), the
    audit adds one (bucket, pack_id) groupBy and a 64-row bucket
    rollup — no new shuffle key beyond the bucket the packing already
    partitions by. Reference analog: none (LLM-data extension)."""
    packed = X.pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=2048, n_buckets=64
    )
    per_pack = packed.groupBy("bucket", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
    )
    return per_pack.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("tokens"),
        F.expr("sum(tokens) * 1000000 div (count(*) * 2048)")
        .cast("long")
        .alias("fill_ppm"),
        F.max("tokens").cast("long").alias("max_pack_tokens"),
    )


@register(
    "l116_sorted_neighborhood_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS tk
      FROM documents
    ),
    keys AS (
      SELECT doc_id, list_distinct(tk) AS dt,
             array_to_string(tk, ' ') AS k1,
             array_to_string(list_sort(list_distinct(tk)), ' ') AS k2
      FROM t
    ),
    p AS (
      SELECT 1 AS pass, doc_id, dt, k1 AS key, substr(k1, 1, 2) AS blk
      FROM keys
      UNION ALL
      SELECT 2, doc_id, dt, k2, substr(k2, 1, 2) FROM keys
    ),
    nb AS (
      SELECT pass, doc_id, dt,
             lead(doc_id, 1) OVER w AS id1, lead(dt, 1) OVER w AS dt1,
             lead(doc_id, 2) OVER w AS id2, lead(dt, 2) OVER w AS dt2
      FROM p WINDOW w AS (PARTITION BY pass, blk ORDER BY key, doc_id)
    ),
    cand AS (
      SELECT pass, doc_id AS a, id1 AS b, dt, dt1 AS dtb
      FROM nb WHERE id1 IS NOT NULL
      UNION ALL
      SELECT pass, doc_id, id2, dt, dt2 FROM nb WHERE id2 IS NOT NULL
    ),
    scored AS (
      SELECT pass, least(a, b) AS doc_a, greatest(a, b) AS doc_b,
             1000000 * len(list_intersect(dt, dtb))
               // (len(dt) + len(dtb) - len(list_intersect(dt, dtb)))
               AS jac
      FROM cand
    )
    SELECT doc_a, doc_b,
           CAST(max(jac) AS BIGINT) AS jaccard_ppm,
           CAST(count(DISTINCT pass) AS BIGINT) AS n_passes
    FROM scored WHERE jac >= 400000
    GROUP BY 1, 2
    """,
)
def l116_sorted_neighborhood_pairs(spark, sf_dir):
    """Multi-pass sorted-neighborhood dedup (Hernandez & Stolfo 1995,
    the merge/purge method) — the third candidate-generation family
    next to banded MinHash (l03) and inverted-index shingles (l02):
    sort records by a discriminating key and compare each record only
    with its w-1 successors, repeated under multiple independent keys
    so records a single key ordering separates still meet under
    another. Pass 1 key = the normalized text itself (catches shared
    prefixes / exact dups); pass 2 key = the sorted distinct-token
    string (token-ORDER-invariant — catches shuffled near-dups pass 1
    misses). Candidates confirm by exact distinct-token Jaccard in
    integer ppm (1e6*|a&&b| div |a||b|), kept at >= 0.4; output is the
    pair with its score and how many passes surfaced it.

    Distributed shape: classic SN needs a TOTAL order — a global sort
    is the anti-pattern — so each pass partitions by a key-prefix
    BLOCK (2 chars here) and runs the w-window as lead() inside the
    block: the only shuffles are the two (pass, blk) window exchanges,
    embarrassingly parallel across blocks, and scoring rides the
    window projection (never a join condition — BNLJ hazard). Pairs
    straddling a block boundary are the method's documented recall
    loss; multi-passing is the standard mitigation (Hernandez &
    Stolfo run 3+ passes). At 100 TB: lengthen the block prefix to
    bound per-block rows, add passes instead of widening w (cost is
    linear in passes, quadratic in w). Reference analog: none
    (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    keys = docs.select(
        "doc_id",
        F.array_distinct(tk).alias("dt"),
        F.concat_ws(" ", tk).alias("k1"),
        F.concat_ws(" ", F.array_sort(F.array_distinct(tk))).alias("k2"),
    )
    passes = keys.select(
        F.lit(1).alias("pass"), "doc_id", "dt",
        F.col("k1").alias("key"), F.substring("k1", 1, 2).alias("blk"),
    ).unionByName(
        keys.select(
            F.lit(2).alias("pass"), "doc_id", "dt",
            F.col("k2").alias("key"), F.substring("k2", 1, 2).alias("blk"),
        )
    )
    wsn = W.partitionBy("pass", "blk").orderBy("key", "doc_id")
    me = F.struct(F.col("doc_id"), F.col("dt"))
    nb = passes.select(
        "pass", "doc_id", "dt",
        F.lead(me, 1).over(wsn).alias("n1"),
        F.lead(me, 2).over(wsn).alias("n2"),
    )
    cand = nb.filter(F.col("n1").isNotNull()).select(
        "pass", F.col("doc_id").alias("a"), F.col("n1.doc_id").alias("b"),
        "dt", F.col("n1.dt").alias("dtb"),
    ).unionByName(
        nb.filter(F.col("n2").isNotNull()).select(
            "pass", F.col("doc_id").alias("a"), F.col("n2.doc_id").alias("b"),
            "dt", F.col("n2.dt").alias("dtb"),
        )
    )
    scored = cand.select(
        "pass",
        F.least("a", "b").alias("doc_a"),
        F.greatest("a", "b").alias("doc_b"),
        F.expr(
            "1000000L * size(array_intersect(dt, dtb)) div "
            "(size(dt) + size(dtb) - size(array_intersect(dt, dtb)))"
        ).alias("jac"),
    )
    return (
        scored.filter(F.col("jac") >= 400000)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("jac").cast("long").alias("jaccard_ppm"),
            F.countDistinct("pass").cast("long").alias("n_passes"),
        )
    )


@register(
    "l117_stupid_backoff_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(range(1, len(t) + 1)) AS pos
      FROM toks
    ),
    ctx AS (
      SELECT doc_id, pos, tok,
             lag(tok, 1) OVER w AS p1, lag(tok, 2) OVER w AS p2
      FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    train AS (SELECT * FROM ctx WHERE doc_id % 4 <> 0),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
            FROM train GROUP BY tok),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    big AS (SELECT p1, tok, CAST(count(*) AS BIGINT) AS c2
            FROM train WHERE p1 IS NOT NULL GROUP BY p1, tok),
    tri AS (SELECT p2, p1, tok, CAST(count(*) AS BIGINT) AS c3
            FROM train WHERE p2 IS NOT NULL GROUP BY p2, p1, tok),
    scored AS (
      SELECT c.doc_id,
             CASE
               WHEN t3.c3 IS NOT NULL
                 THEN 1000000000 * t3.c3 // bctx.c2
               WHEN b2.c2 IS NOT NULL
                 THEN 400000000 * b2.c2 // uprev.c1
               WHEN u.c1 IS NOT NULL
                 THEN 160000000 * u.c1 // tot.n
               ELSE 0
             END AS nano,
             CASE WHEN t3.c3 IS NOT NULL THEN 'tri'
                  WHEN b2.c2 IS NOT NULL THEN 'bi'
                  WHEN u.c1 IS NOT NULL THEN 'uni'
                  ELSE 'oov' END AS path
      FROM ctx c
      LEFT JOIN tri t3 ON c.p2 = t3.p2 AND c.p1 = t3.p1 AND c.tok = t3.tok
      LEFT JOIN big bctx ON c.p2 = bctx.p1 AND c.p1 = bctx.tok
      LEFT JOIN big b2 ON c.p1 = b2.p1 AND c.tok = b2.tok
      LEFT JOIN uni uprev ON c.p1 = uprev.tok
      LEFT JOIN uni u ON c.tok = u.tok, tot
      WHERE c.p2 IS NOT NULL
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN path = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri,
           CAST(SUM(CASE WHEN path = 'bi' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_backoff,
           CAST(SUM(CASE WHEN path IN ('uni', 'oov') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_uni_backoff,
           CAST(SUM(nano) // count(*) AS BIGINT) AS sb_avg_nano
    FROM scored GROUP BY doc_id
    """,
)
def l117_stupid_backoff_score(spark, sf_dir):
    """Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — THE web-scale data-
    filtering LM: no discounting, no normalization, just count ratios
    with a fixed 0.4 backoff multiplier, chosen precisely because it
    needs nothing but mergeable n-gram counts at any corpus size).
    Counts train on the doc_id%4!=0 split and score EVERY document
    (held-out docs genuinely exercise the backoff chain — a model
    trained on the scoring corpus itself would hit the trigram path
    on every position): S(w|u,v) = c3(u,v,w)/c2(u,v), else
    0.4*c2(v,w)/c1(v), else 0.4^2*c1(w)/N, else 0 (OOV). Per-doc
    output = positions scored, per-path counts (the backoff-rate
    audit), and the mean score.

    Exactness: scores are integer fixed-point nanounits with ONE
    truncating division per position (1e9*c3 div c2ctx / 4e8*c2 div
    c1 / 16e7*c1 div N — Spark ``div`` == DuckDB ``//`` on positive
    ints), summed as exact bigints — hash-identical across engines,
    no libm log, no float accumulation. Scale shape: count tables are
    vocabulary-sized groupBys; scoring is five left equi-joins keyed
    on n-grams (partial-agg + shuffle on the same keys — the shape
    n-gram LM training always has); the 1-row corpus total
    broadcasts. Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "tok")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    ctx = pos.select(
        "doc_id", "pos", "tok",
        F.lag("tok", 1).over(wd).alias("p1"),
        F.lag("tok", 2).over(wd).alias("p2"),
    ).transform(cut_lineage)  # feeds 4 count tables + the scoring scan
    train = ctx.filter(F.col("doc_id") % 4 != 0)
    uni = train.groupBy("tok").agg(F.count("*").cast("long").alias("c1"))
    tot = uni.agg(F.sum("c1").alias("n"))
    big = (
        train.filter(F.col("p1").isNotNull())
        .groupBy("p1", "tok")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    tri = (
        train.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "tok")
        .agg(F.count("*").cast("long").alias("c3"))
    )
    t3 = tri.select(
        F.col("p2").alias("t_p2"), F.col("p1").alias("t_p1"),
        F.col("tok").alias("t_tok"), "c3",
    )
    bctx = big.select(
        F.col("p1").alias("bc_p1"), F.col("tok").alias("bc_tok"),
        F.col("c2").alias("c2ctx"),
    )
    b2 = big.select(
        F.col("p1").alias("b_p1"), F.col("tok").alias("b_tok"), "c2"
    )
    uprev = uni.select(F.col("tok").alias("up_tok"), F.col("c1").alias("c1prev"))
    u = uni.select(F.col("tok").alias("u_tok"), "c1")
    scored = (
        ctx.filter(F.col("p2").isNotNull())
        .join(t3, (F.col("p2") == F.col("t_p2"))
              & (F.col("p1") == F.col("t_p1"))
              & (F.col("tok") == F.col("t_tok")), "left")
        .join(bctx, (F.col("p2") == F.col("bc_p1"))
              & (F.col("p1") == F.col("bc_tok")), "left")
        .join(b2, (F.col("p1") == F.col("b_p1"))
              & (F.col("tok") == F.col("b_tok")), "left")
        .join(uprev, F.col("p1") == F.col("up_tok"), "left")
        .join(u, F.col("tok") == F.col("u_tok"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN c3 IS NOT NULL THEN 1000000000L * c3 div c2ctx "
                "WHEN c2 IS NOT NULL THEN 400000000L * c2 div c1prev "
                "WHEN c1 IS NOT NULL THEN 160000000L * c1 div n "
                "ELSE 0L END"
            ).alias("nano"),
            F.expr(
                "CASE WHEN c3 IS NOT NULL THEN 'tri' "
                "WHEN c2 IS NOT NULL THEN 'bi' "
                "WHEN c1 IS NOT NULL THEN 'uni' ELSE 'oov' END"
            ).alias("path"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_pos"),
        F.sum(F.when(F.col("path") == "tri", 1).otherwise(0))
        .cast("long").alias("n_tri"),
        F.sum(F.when(F.col("path") == "bi", 1).otherwise(0))
        .cast("long").alias("n_bi_backoff"),
        F.sum(F.when(F.col("path").isin("uni", "oov"), 1).otherwise(0))
        .cast("long").alias("n_uni_backoff"),
        F.expr("sum(nano) div count(*)").cast("long").alias("sb_avg_nano"),
    )


def _nndescent_bucket_parts() -> tuple[str, str]:
    """The sign-LSH SQL fragments shared by the NN-Descent oracle
    generator and the graph-INSERT oracle (l135): ``bucket_exprs`` —
    the 4-table, 16-max-plane bit expressions gated on ``nps.np`` —
    and ``np_case`` — the integer CASE chain replaying
    ``similarity.auto_n_planes`` over a count. Keeping them in ONE
    place is what keeps the build and insert probes in lockstep: a
    plane-count or seed change diverges both oracles together."""
    import numpy as np  # noqa: PLC0415

    dim, max_planes, n_tables, seed = 64, 16, 4, 42
    per_table = []
    for t in range(n_tables):
        rng = np.random.default_rng(seed + t)
        planes = rng.standard_normal((max_planes, dim))
        bits = " + ".join(
            f"(CASE WHEN {p} < nps.np AND list_dot_product(v, "
            f"[{', '.join(repr(float(x)) for x in plane)}]::DOUBLE[]) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
            for p, plane in enumerate(planes)
        )
        per_table.append(f"({bits}) + {t << 32}::BIGINT")
    bucket_exprs = ", ".join(per_table)
    # smallest np in [6,16] with cnt <= 16*2^np — auto_n_planes exactly
    np_case = " ".join(
        f"WHEN cnt <= {16 << p} THEN {p}" for p in range(6, 16)
    )
    return bucket_exprs, np_case


def _nndescent_oracle_sql(k: int, rounds: int, c_where: str = "") -> str:
    """Parameterized replay of ``knn_graph_nndescent(k, n_planes=AUTO,
    n_tables=4, rounds)``: seeded hyperplanes inline as DOUBLE literals
    (same construction as _l07_oracle), init self-join on any-table
    bucket equality, top-``k`` per direction, then ``rounds`` NN-Descent
    local joins over the general-neighbor sets, each followed by an
    exact re-rank of the accumulated pair union — one CTE block per
    round, mirroring the engine's loop (``allp{r}`` = local-join pairs
    ∪ the previous graph's pairs; the next graph is the top-``k`` of
    ``allp{r}`` scored both directions). Round CTEs are MATERIALIZED:
    each ``g{r}`` is referenced twice by round ``r+1`` (the u/allp
    branches), so inlining would re-expand the whole upstream chain
     2^rounds times (the g39 CTE-inlining blowup).

    The engine auto-scales the plane count from the corpus count
    (similarity.auto_n_planes: smallest np in [6,16] with
    n ≤ 16·2^np); the oracle replays that by inlining ALL 16 planes
    per table (numpy standard_normal draws are prefix-stable, so the
    engine's np-plane draw is exactly the first np rows) and GATING
    each bit on ``p < np``, with np computed by the identical integer
    CASE chain over count(c) — both sides derive np from the same
    corpus, at any sf. The engine's deterministic per-(table,bucket)
    occupancy cap (bucket_cap=64, smallest ids win) is replayed by the
    QUALIFY row_number() in the cb CTE. Instantiated at (5, 1) for
    l119 and (8, 2) for l133's serving-store graph; ``c_where``
    appends a corpus predicate (l135 builds the graph on the
    pre-insert BASE via ``AND (vec_id % 23) <> 0``)."""
    dim = 64
    bucket_exprs, np_case = _nndescent_bucket_parts()
    rounds_sql = ",\n    ".join(
        _nndescent_round_sql(r, k, last=(r == rounds))
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = {dim}{c_where}
    ),
    nps AS (SELECT CASE {np_case} ELSE 16 END AS np
            FROM (SELECT count(*) AS cnt FROM c)),
    cbr AS (SELECT id, unnest([{bucket_exprs}]) AS bucket FROM c, nps),
    -- deterministic per-(table,bucket) occupancy cap = 64: keep the 64
    -- smallest ids, replaying lsh_candidate_ids(bucket_cap=64) exactly
    cb AS (
      SELECT id, bucket FROM cbr
      QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 64
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM cb a JOIN cb b USING (bucket) WHERE a.id < b.id
    ),
    s0 AS (
      SELECT id_a, id_b, round(list_cosine_similarity(ca.v, cc.v), 6) AS cosine
      FROM cand JOIN c ca ON cand.id_a = ca.id JOIN c cc ON cand.id_b = cc.id
    ),
    d0 AS (SELECT id_a AS q, id_b AS n, cosine FROM s0
           UNION ALL SELECT id_b, id_a, cosine FROM s0),
    g0 AS MATERIALIZED (
      SELECT q, n FROM (
        SELECT q, n, row_number() OVER (
          PARTITION BY q ORDER BY cosine DESC, n) AS rn FROM d0)
      WHERE rn <= {k}
    ),
    {rounds_sql}
    SELECT q AS query_id, n AS neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT q, n, cosine, row_number() OVER (
            PARTITION BY q ORDER BY cosine DESC, n) AS rn FROM d{rounds})
    WHERE rn <= {k}
    """


def _nndescent_round_sql(r: int, k: int, last: bool) -> str:
    """One NN-Descent round as a CTE block (round ``r`` reads graph
    ``g{r-1}``); the last round omits its g CTE — the caller's final
    select IS the top-k."""
    g = f""",
    g{r} AS MATERIALIZED (
      SELECT q, n FROM (
        SELECT q, n, row_number() OVER (
          PARTITION BY q ORDER BY cosine DESC, n) AS rn FROM d{r})
      WHERE rn <= {k}
    )"""
    return f"""u{r} AS (SELECT q AS center, n AS member FROM g{r - 1}
          UNION SELECT n, q FROM g{r - 1}),
    lj{r} AS (
      SELECT DISTINCT a.member AS id_a, b.member AS id_b
      FROM u{r} a JOIN u{r} b ON a.center = b.center AND a.member < b.member
    ),
    allp{r} AS (SELECT id_a, id_b FROM lj{r}
             UNION SELECT least(q, n), greatest(q, n) FROM g{r - 1}),
    s{r} AS (
      SELECT id_a, id_b, round(list_cosine_similarity(ca.v, cc.v), 6) AS cosine
      FROM allp{r} JOIN c ca ON allp{r}.id_a = ca.id
                   JOIN c cc ON allp{r}.id_b = cc.id
    ),
    d{r} AS (SELECT id_a AS q, id_b AS n, cosine FROM s{r}
           UNION ALL SELECT id_b, id_a, cosine FROM s{r})""" + (
        "" if last else g
    )


def _l119_oracle() -> str:
    """knn_graph_nndescent(k=5, rounds=1) — see _nndescent_oracle_sql."""
    return _nndescent_oracle_sql(k=5, rounds=1)


@register("l119_knn_graph_refine", oracle=_l119_oracle())
def l119_knn_graph_refine(spark, sf_dir):
    """Whole-corpus k-NN GRAPH construction with one NN-Descent
    refinement round (Dong/Moses/Li 2011) — the graph-based ANN
    family alongside table-based LSH (l07) and partition-based IVF
    (l15): weak 4-table sign-LSH init, general-neighbor local join
    (neighbors-of-neighbors become candidates), exact re-score +
    re-rank of the union. The k-NN graph is the artifact embedding
    curation actually builds at corpus scale (SemDeDup clustering,
    hard-negative mining, HNSW base layers all start from one).
    Deterministic end-to-end, so the DuckDB oracle replays init,
    local join, and re-rank exactly; the refinement's recall gain
    over the weak init is asserted in tests/test_similarity.py.
    Scale: see operators/similarity.py::knn_graph_nndescent —
    init pair volume is HARD-bounded by the deterministic per-bucket
    occupancy cap (bucket_cap=64: ≤ cap·n·L pairs at ANY skew — the
    plane count, auto-scaled to hold expected occupancy ≤ 16, cannot
    bound duplicate pile-ups and saturates at np=16 ≈ 1M vectors),
    refine ∝ n·k², nothing broadcasts the corpus. The oracle replays
    the same np via a count-driven CASE chain over 16 inlined
    prefix-stable planes and the cap via a QUALIFY row_number()."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph_nndescent(emb, k=5, n_planes=None, n_tables=4)


@register(
    "l118_scaling_law_subsets",
    oracle="""
    WITH base AS (
      SELECT CASE
               WHEN substr(md5('abl' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '19999999' THEN 10
               WHEN substr(md5('abl' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '40000000' THEN 25
               WHEN substr(md5('abl' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '80000000' THEN 50
               ELSE 100 END AS tier,
             source,
             len(string_split_regex(trim(lower(text)), ' +')) AS n_tokens
      FROM documents
    ),
    cells AS (
      SELECT tier, source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS toks
      FROM base GROUP BY 1, 2
    ),
    grid AS (
      SELECT DISTINCT source, unnest([10, 25, 50, 100]) AS subset_pct
      FROM documents
    ),
    filled AS (
      SELECT g.subset_pct, g.source,
             coalesce(c.n_docs, 0) AS n_docs, coalesce(c.toks, 0) AS toks
      FROM grid g LEFT JOIN cells c
        ON c.tier = g.subset_pct AND c.source = g.source
    ),
    cum AS (
      SELECT subset_pct, source,
             SUM(n_docs) OVER (PARTITION BY source ORDER BY subset_pct)
               AS n_docs,
             SUM(toks) OVER (PARTITION BY source ORDER BY subset_pct)
               AS n_tokens
      FROM filled
    )
    SELECT CAST(subset_pct AS INTEGER) AS subset_pct, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens * 1000000
                // SUM(n_tokens) OVER (PARTITION BY subset_pct) AS BIGINT)
             AS token_share_ppm
    FROM cum
    """,
)
def l118_scaling_law_subsets(spark, sf_dir):
    """Scaling-law ablation manifest: NESTED deterministic subsets at
    10/25/50/100% of the corpus — the data-side artifact every
    scaling-law / data-ablation study needs (Hoffmann et al. 2022
    train the same recipe at geometric data fractions; the fractions
    must NEST so a bigger run is strictly "more of the same data", and
    must be reproducible without shipping id lists). A document's TIER
    is the smallest subset containing it, assigned by one md5 draw
    against fixed thresholds — nesting is by construction (same draw,
    widening thresholds), no coordination, no RNG state. Output: per
    (subset, source) the doc/token counts and the integer-ppm token
    share — the manifest row a dataloader or a mixture audit consumes
    (a subset that accidentally skews a source's share invalidates the
    ablation; share_ppm makes that drift visible per tier).

    Scale shape: one narrow scan-stage projection (md5 + CASE — no
    shuffle), a (4 × n_sources)-cell aggregate, and window cumsums
    over the completed tier grid (the grid completes via a per-source
    literal explode, never a cross join) — output is 4·|sources| rows
    at any corpus size. Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.lit("abl"), F.col("doc_id").cast("string"))), 1, 8
    )
    tier = (
        F.when(h < "19999999", 10)
        .when(h < "40000000", 25)
        .when(h < "80000000", 50)
        .otherwise(100)
    )
    base = docs.select(
        tier.alias("tier"), "source",
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    cells = base.groupBy("tier", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("toks"),
    )
    grid = docs.select("source").distinct().select(
        "source",
        F.explode(
            F.array(F.lit(10), F.lit(25), F.lit(50), F.lit(100))
        ).alias("subset_pct"),
    )
    filled = grid.join(
        cells,
        (cells.tier == grid.subset_pct) & (cells.source == grid.source),
        "left",
    ).select(
        grid.subset_pct, grid.source,
        F.coalesce(cells.n_docs, F.lit(0)).alias("n_docs"),
        F.coalesce(cells.toks, F.lit(0)).alias("toks"),
    )
    wsrc = W.partitionBy("source").orderBy("subset_pct")
    cum = filled.select(
        "subset_pct", "source",
        F.sum("n_docs").over(wsrc).alias("n_docs"),
        F.sum("toks").over(wsrc).alias("n_tokens"),
    )
    wsub = W.partitionBy("subset_pct")
    return cum.select(
        F.col("subset_pct").cast("int").alias("subset_pct"),
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "n_tokens * 1000000L div sum(n_tokens) "
            "OVER (PARTITION BY subset_pct)"
        ).cast("long").alias("token_share_ppm"),
    )


def _l120_oracle() -> str:
    from ekati_spark.queries.base import REGISTRY as _R  # noqa: PLC0415

    return f"""
    WITH enc AS ({_R["l97_bpe_encode"].oracle}),
    d AS (SELECT doc_id, lang, source, length(text) AS n_chars
          FROM documents)
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(e.n_merges) AS BIGINT) AS n_merges,
           CAST(SUM(e.n_tokens - e.n_merges) AS BIGINT) AS n_symbols,
           CAST(SUM(e.n_merges) * 1000000 // SUM(e.n_tokens) AS BIGINT)
             AS merge_rate_ppm,
           CAST(SUM(d.n_chars) * 1000000
                // SUM(e.n_tokens - e.n_merges) AS BIGINT)
             AS chars_per_symbol_ppm
    FROM enc e JOIN d ON e.doc_id = d.doc_id
    GROUP BY 1, 2
    """


@register("l120_tokenizer_compression_audit", oracle=_l120_oracle())
def l120_tokenizer_compression_audit(spark, sf_dir):
    """Tokenizer COMPRESSION/FERTILITY audit per (lang, source) — the
    governance table every multilingual tokenizer review starts from
    (a vocab trained on the dominant language under-merges the tail:
    its merge rate drops and its chars-per-symbol rises, which is
    exactly per-token cost inflation for that slice): applies l97's
    learned BPE encode to every document and rolls up doc counts,
    whitespace tokens, merges fired, emitted symbols, integer-ppm
    merge rate (merges*1e6 div tokens), and chars-per-symbol ppm.
    Oracle = l97's learn+encode replay composed under the same
    aggregate (the st26/l98 compositional-oracle pattern). Scale
    shape: the encode is l97's single scan-shaped pass; the rollup
    adds one (lang, source)-keyed aggregate over per-doc rows and a
    doc_id equi-join — nothing new shuffles wider than the encode
    itself. Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    enc = l97_bpe_encode(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang", "source", F.length("text").alias("n_chars")
    )
    j = enc.join(d, "doc_id")
    return j.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_merges").cast("long").alias("n_merges"),
        F.sum(F.col("n_tokens") - F.col("n_merges"))
        .cast("long").alias("n_symbols"),
        F.expr("sum(n_merges) * 1000000L div sum(n_tokens)")
        .cast("long").alias("merge_rate_ppm"),
        F.expr(
            "sum(n_chars) * 1000000L div sum(n_tokens - n_merges)"
        ).cast("long").alias("chars_per_symbol_ppm"),
    )


@register(
    "l121_audio_vad_segments",
    oracle="""
    WITH base AS (
      SELECT doc_id, 64 + doc_id % 97 AS n FROM documents
    ),
    samp AS (
      SELECT doc_id, n, unnest(range(CAST(n AS BIGINT))) AS i FROM base
    ),
    vals AS (
      SELECT doc_id, CAST(i // 16 AS INTEGER) AS frame,
             (doc_id * 131 + i * 17) % 4096 - 2048 AS s
      FROM samp
    ),
    frames AS (
      SELECT doc_id, frame,
             CAST(SUM(s * s) AS BIGINT) AS energy,
             CAST(count(*) AS BIGINT) AS n_samp
      FROM vals GROUP BY 1, 2
      HAVING count(*) = 16
    ),
    active AS (
      SELECT doc_id, frame, energy,
             frame - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY frame) AS isl
      FROM frames WHERE energy > 20000000
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY min(frame)) AS INTEGER)
             AS seg_id,
           CAST(min(frame) AS INTEGER) AS start_frame,
           CAST(max(frame) AS INTEGER) AS end_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(min(frame) * 16 * 1000 // 8000 AS BIGINT) AS start_ms,
           CAST(SUM(energy) AS BIGINT) AS energy_sum
    FROM active
    GROUP BY doc_id, isl
    HAVING count(*) >= 2
    """,
)
def l121_audio_vad_segments(spark, sf_dir):
    """Energy-based voice-activity detection over REAL decoded audio —
    the segmentation step every speech-data pipeline runs before
    transcription/dedup (extract the voiced spans, drop silence):
    plant l61's deterministic 16-bit PCM WAVs, DECODE them with the
    pure-stdlib RIFF codec inside one Arrow pass emitting per-frame
    (16-sample) integer energies, threshold to active frames, merge
    consecutive actives into segments via the island analysis
    (frame − row_number), and keep segments ≥ 2 frames (the classic
    hangover/min-duration rule). Output = per-segment bounds, start
    offset in ms, and exact integer energy mass. The oracle predicts
    every frame energy from the planting arithmetic — a hash match
    attests the real decode → frame → threshold → merge chain end to
    end (the audio analog of l99's frame path).

    Scale shape: decode + framing are per-row Arrow work (no shuffle,
    payload bytes never leave the scan task — only (doc, frame,
    energy) integers do); the island window partitions by doc. At
    100 TB this is the embarrassing-parallel shape; the only tunables
    are frame width and threshold, both scale-free."""
    from ekati_spark.operators.audio import decode_wav, planted_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def frame_energies(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_doc, out_frame, out_energy = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                _, _, _, samples = decode_wav(planted_wav(did))
                for f0 in range(0, len(samples) - 15, 16):
                    fr = samples[f0 : f0 + 16]
                    out_doc.append(did)
                    out_frame.append(f0 // 16)
                    out_energy.append(sum(x * x for x in fr))
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame": out_frame, "energy": out_energy}
            )

    frames = docs.mapInPandas(
        frame_energies, "doc_id long, frame int, energy long"
    )
    wdoc = W.partitionBy("doc_id").orderBy("frame")
    active = frames.filter(F.col("energy") > 20_000_000).select(
        "doc_id", "frame", "energy",
        (F.col("frame") - F.row_number().over(wdoc)).alias("isl"),
    )
    segs = (
        active.groupBy("doc_id", "isl")
        .agg(
            F.min("frame").alias("start_frame"),
            F.max("frame").alias("end_frame"),
            F.count("*").alias("n_frames"),
            F.sum("energy").alias("energy_sum"),
        )
        .filter(F.col("n_frames") >= 2)
    )
    wseg = W.partitionBy("doc_id").orderBy("start_frame")
    return segs.select(
        "doc_id",
        F.row_number().over(wseg).cast("int").alias("seg_id"),
        F.col("start_frame").cast("int").alias("start_frame"),
        F.col("end_frame").cast("int").alias("end_frame"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.expr("start_frame * 16 * 1000L div 8000").alias("start_ms"),
        F.col("energy_sum").cast("long").alias("energy_sum"),
    )


@register(
    "l122_quality_tempered_resample",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    agg AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_tok,
             CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT) AS w_sum
      FROM w GROUP BY doc_id, source
    ),
    scored AS (
      SELECT doc_id, source, n_tok,
             ((w_sum // n_tok) + 1000) * 500 AS acc_ppm,
             CAST(('0x' || substr(md5('qtr' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1000000 AS draw_ppm
      FROM agg
    )
    SELECT doc_id, source, n_tok,
           CAST(acc_ppm AS BIGINT) AS acc_ppm,
           CAST(draw_ppm AS BIGINT) AS draw_ppm
    FROM scored WHERE draw_ppm < acc_ppm
    """,
)
def l122_quality_tempered_resample(spark, sf_dir):
    """Quality-TEMPERED rejection resampling — the CCNet/phi-style
    step between hard filtering and keeping everything: each document
    survives with probability proportional to its classifier quality
    (hard thresholds (l10/l48 keep-flags) discard the whole lower
    half; tempering keeps a graded sample so the kept corpus still
    covers the distribution's tail). Acceptance is EXACT integer ppm
    from l48's frozen hashed-BoW model — acc_ppm = ((w_sum div
    n_tok) + 1000) * 500, a linear ramp over the [-1000, 1000]
    milli-logit range — and the Bernoulli draw is the deterministic
    md5 idiom (draw_ppm from md5('qtr' || doc_id)): reproducible,
    coordination-free, engine-portable; the oracle replays weights,
    ramp, and draw bit-for-bit.

    Scale shape: l48's explode → codegen-weight → per-doc hash-agg
    (shuffle ∝ documents) plus one scan-local filter — no new
    shuffle; the acceptance rule is a per-row expression at any
    corpus size. Reference analog: none (LLM-data extension)."""
    docs = load_table(spark, sf_dir, "documents")
    from ekati_spark.operators.text import hashed_token_weight_milli

    exploded = docs.select(
        "doc_id", "source", F.explode(X.tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id", "source",
        hashed_token_weight_milli(F.col("tok"), 4096).alias("w"),
    )
    agg = exploded.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.sum("w").cast("long").alias("w_sum"),
    )
    scored = agg.select(
        "doc_id", "source", "n_tok",
        F.expr("((w_sum div n_tok) + 1000L) * 500L").alias("acc_ppm"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("qtr"), F.col("doc_id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % 1000000
        ).alias("draw_ppm"),
    )
    return scored.filter(F.col("draw_ppm") < F.col("acc_ppm")).select(
        "doc_id", "source", "n_tok",
        F.col("acc_ppm").cast("long").alias("acc_ppm"),
        F.col("draw_ppm").cast("long").alias("draw_ppm"),
    )


def _l123_oracle() -> str:
    """l37's integer-k-means CTE chain (verbatim prefix, so the
    clustering replay is BY CONSTRUCTION the same) + the c-TF-IDF
    card tail."""
    from ekati_spark.queries.base import REGISTRY as _R  # noqa: PLC0415

    base = _R["l37_semantic_dedup"].oracle
    # Splice precondition: this helper does string surgery on l37's SQL,
    # so any drift in l37's oracle shape must fail HERE at registration
    # time, never produce a semantically different card oracle silently.
    if base.count("pairs AS MATERIALIZED") != 1:
        raise AssertionError(
            "l123 oracle splice: l37's oracle no longer contains exactly "
            "one 'pairs AS MATERIALIZED' split token — update _l123_oracle"
        )
    prefix = base.split("pairs AS MATERIALIZED")[0].rstrip().rstrip(",")
    return prefix + """,
    dmap AS (SELECT a3.vec_id AS doc_id, a3.list_id FROM a3),
    toks AS (
      SELECT dm.list_id,
             unnest(string_split_regex(trim(lower(d.text)), ' +')) AS tok
      FROM documents d JOIN dmap dm ON d.doc_id = dm.doc_id
    ),
    tf AS (
      SELECT list_id, tok, CAST(count(*) AS BIGINT) AS term_freq
      FROM toks GROUP BY 1, 2
    ),
    cf AS (SELECT tok, CAST(SUM(term_freq) AS BIGINT) AS cf
           FROM tf GROUP BY tok),
    sizes AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_docs
              FROM dmap GROUP BY list_id),
    scored AS (
      SELECT tf.list_id, tf.tok, tf.term_freq,
             tf.term_freq * 1000000 // cf.cf AS score_ppm
      FROM tf JOIN cf USING (tok)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY list_id
                 ORDER BY score_ppm DESC, term_freq DESC, tok) AS rnk
      FROM scored
    )
    SELECT CAST(r.list_id AS BIGINT) AS cluster,
           CAST(r.rnk AS INTEGER) AS rank, r.tok AS term,
           r.term_freq, CAST(r.score_ppm AS BIGINT) AS score_ppm,
           s.n_docs
    FROM ranked r JOIN sizes s USING (list_id) WHERE rnk <= 5
    """


@register("l123_cluster_cards", oracle=_l123_oracle())
def l123_cluster_cards(spark, sf_dir):
    """CLUSTER CARDS — the Atlas/BERTopic-style data map a curation
    team browses: k-means topic clusters over the embeddings (l37's
    shared integer-deterministic core, so cluster assignment replays
    bit-for-bit) joined back to the documents, each cluster summarized
    by its size and top-5 characteristic terms under integer c-TF-IDF
    (term's in-cluster frequency ppm-normalized by its corpus
    frequency — the BERTopic class-TF-IDF shape with one truncating
    division, no log). Ties break (score, term_freq, term) — total
    order, hash-stable. The oracle reuses l37's k-means CTE chain as a
    verbatim prefix, so the two queries can never drift apart on
    clustering.

    Scale shape: assignment is the l15/l37 k-means (partial-sum Lloyd
    steps, centroids-only to the driver); the card rollup is two
    vocabulary-keyed groupBys + a per-cluster top-5 rank window
    partitioned by cluster — output 5·k rows at any corpus size.
    Cards cover the embedded subset (doc ↔ vec ids join 1:1 where
    both exist, the l35 contract)."""
    from ekati_spark.operators.similarity import _int_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    assigned, _ = _int_kmeans(emb, 16, 2, 1024, "vec_id", "embedding")
    dmap = assigned.select(F.col("id").alias("doc_id"), "list_id")
    toks = docs.join(dmap, "doc_id").select(
        "list_id", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("list_id", "tok").agg(
        F.count("*").cast("long").alias("term_freq")
    )
    cf = tf.groupBy("tok").agg(F.sum("term_freq").cast("long").alias("cf"))
    sizes = dmap.groupBy("list_id").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    scored = tf.join(cf, "tok").select(
        "list_id", "tok", "term_freq",
        F.expr("term_freq * 1000000L div cf").alias("score_ppm"),
    )
    wcl = W.partitionBy("list_id").orderBy(
        F.desc("score_ppm"), F.desc("term_freq"), F.asc("tok")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(wcl)).filter(
        F.col("rnk") <= 5
    )
    return ranked.join(sizes, "list_id").select(
        F.col("list_id").cast("long").alias("cluster"),
        F.col("rnk").cast("int").alias("rank"),
        F.col("tok").alias("term"),
        "term_freq",
        F.col("score_ppm").cast("long").alias("score_ppm"),
        "n_docs",
    )


def _l124_oracle() -> str:
    """Verbatim reuse of the three stage oracles (l01/l03/l37) as
    scoped subqueries — the cascade can't drift from its stages."""
    from ekati_spark.queries.base import REGISTRY as _R  # noqa: PLC0415

    # stage 3 clusters/judges ONLY the stage-2 survivors (the point of
    # a cascade: cheap stages shrink the expensive stage's pair work —
    # at the 10x-replicated sf1 this is ~100x fewer cluster pairs);
    # the l37 chain is reused verbatim with its one corpus scan
    # restricted to survivors, so k-means seeds/centroids replay over
    # the same filtered set on both sides.
    _sem_base = _R["l37_semantic_dedup"].oracle
    # Splice precondition: the survivor restriction targets l37's ONE
    # embeddings scan; a second scan (or a renamed table) added to l37
    # later would leave part of the chain unrestricted — a semantically
    # wrong cascade oracle. Fail at registration time instead.
    if _sem_base.count("FROM embeddings") != 1:
        raise AssertionError(
            "l124 oracle splice: l37's oracle no longer contains exactly "
            "one 'FROM embeddings' scan — update _l124_oracle"
        )
    _sem_on_survivors = _sem_base.replace(
        "FROM embeddings",
        "FROM embeddings WHERE vec_id IN (SELECT doc_id FROM xsurv2)",
        1,
    )
    return f"""
    WITH xs1 AS MATERIALIZED ({_R["l01_dedup_exact"].oracle}),
    xsurv1 AS MATERIALIZED (SELECT kept_id AS doc_id FROM xs1),
    xp AS MATERIALIZED ({_R["l03_minhash_lsh_pairs"].oracle}),
    xdom AS MATERIALIZED (
      SELECT DISTINCT xp.id_b AS doc_id FROM xp
      WHERE xp.id_a IN (SELECT doc_id FROM xsurv1)
        AND xp.id_b IN (SELECT doc_id FROM xsurv1)
    ),
    xsurv2 AS MATERIALIZED (SELECT doc_id FROM xsurv1
              WHERE doc_id NOT IN (SELECT doc_id FROM xdom)),
    xsem AS ({_sem_on_survivors}),
    xdrop3 AS (SELECT vec_id AS doc_id FROM xsem WHERE NOT kept),
    xsurv3 AS (SELECT doc_id FROM xsurv2
              WHERE doc_id NOT IN (SELECT doc_id FROM xdrop3)),
    xtot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    xc1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xsurv1),
    xc2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xsurv2),
    xc3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xsurv3)
    SELECT CAST(1 AS INTEGER) AS stage, 'exact' AS method,
           xtot.n AS n_in, xtot.n - xc1.n AS n_removed, xc1.n AS n_out
    FROM xtot, xc1
    UNION ALL
    SELECT 2, 'minhash_banded', xc1.n, xc1.n - xc2.n, xc2.n FROM xc1, xc2
    UNION ALL
    SELECT 3, 'semantic', xc2.n, xc2.n - xc3.n, xc3.n FROM xc2, xc3
    """


@register("l124_dedup_cascade_report", oracle=_l124_oracle())
def l124_dedup_cascade_report(spark, sf_dir):
    """STAGED dedup cascade accounting — the report a production
    pipeline publishes for the sequence it actually runs (cheap →
    expensive, each stage only on the previous stage's survivors):
    stage 1 exact digest dedup (l01, keep min id per digest), stage 2
    MinHash-banded near-dup (l03's confirmed pairs restricted to
    survivors; a survivor with any smaller-id near-dup partner drops —
    the deterministic keep-smallest rule), stage 3 SemDeDup semantic
    dedup (l37's integer-cosine kept flags; docs without an embedding
    pass through). Output: per stage, docs in / removed / out — the
    three numbers every dedup review asks for. The oracle embeds the
    three stage oracles VERBATIM as scoped subqueries, so the cascade
    and its stages cannot disagree.

    Scale shape: no new shuffles beyond the stages themselves
    (already individually audited); the cascade adds semi/anti joins
    on doc_id and three 1-row counts (the r49-pattern sanctioned
    1-row cross joins). Reference analog: none (LLM-data extension)."""
    from ekati_spark.queries.base import REGISTRY as _R

    docs = load_table(spark, sf_dir, "documents")
    s1 = _R["l01_dedup_exact"].fn(spark, sf_dir)
    surv1 = s1.select(F.col("kept_id").alias("doc_id")).transform(cut_lineage)
    pairs = _R["l03_minhash_lsh_pairs"].fn(spark, sf_dir)
    dom = (
        pairs.join(
            surv1.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
        )
        .join(
            surv1.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv2 = surv1.join(dom, "doc_id", "left_anti").transform(cut_lineage)
    emb2 = load_table(spark, sf_dir, "embeddings").join(
        surv2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    from ekati_spark.operators.similarity import semantic_dedup_int

    sem = semantic_dedup_int(
        emb2, threshold_sq=(289, 400), n_lists=16, kmeans_iters=2
    )
    drop3 = sem.filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
    surv3 = surv2.join(drop3, "doc_id", "left_anti")

    tot = docs.agg(F.count("*").cast("long").alias("n"))
    c1 = surv1.agg(F.count("*").cast("long").alias("n1"))
    c2 = surv2.agg(F.count("*").cast("long").alias("n2"))
    c3 = surv3.agg(F.count("*").cast("long").alias("n3"))
    row = (
        tot.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
    )
    # one explode over the 1-row counts frame, NOT a 3-branch union of
    # `row`: each union branch would re-contain row's whole subtree
    # (3 count scans of documents in the executed plan instead of 1 —
    # the lineage-cut plan test pins this shape)
    def _stage(stage, method, n_in, n_out):
        return F.struct(
            F.lit(stage).alias("stage"),
            F.lit(method).alias("method"),
            n_in.alias("n_in"),
            (n_in - n_out).alias("n_removed"),
            n_out.alias("n_out"),
        )

    return row.select(
        F.explode(
            F.array(
                _stage(1, "exact", F.col("n"), F.col("n1")),
                _stage(2, "minhash_banded", F.col("n1"), F.col("n2")),
                _stage(3, "semantic", F.col("n2"), F.col("n3")),
            )
        ).alias("s")
    ).select("s.*")


@register(
    "l125_template_families",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS tk
      FROM documents
    ),
    pre AS (
      SELECT doc_id, len(tk) AS n_tokens,
             array_to_string(tk[1:8], ' ') AS prefix
      FROM t WHERE len(tk) >= 8
    ),
    fam AS (
      SELECT prefix,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_id) AS BIGINT) AS exemplar_id,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(n_tokens) // count(*) AS BIGINT) AS avg_tokens,
             CAST(count(DISTINCT n_tokens) AS BIGINT) AS n_length_variants
      FROM pre GROUP BY prefix
      HAVING count(*) >= 3
    )
    SELECT md5(prefix) AS family_id, n_docs, exemplar_id,
           total_tokens, avg_tokens, n_length_variants
    FROM fam
    """,
)
def l125_template_families(spark, sf_dir):
    """TEMPLATE-family detection — the boilerplate axis l95 (exact
    duplicated substrings) and l112 (per-source stopwords) both miss:
    templated pages (error pages, listings, license headers) share a
    fixed OPENING even when bodies differ, so grouping documents by
    their 8-token normalized prefix and keeping families of >= 3
    surfaces the template populations a curation pass then
    strips/downweights (the RefinedWeb/C4 'templated page' class).
    Per family: size, min-id exemplar, token mass, truncating-mean
    length, and how many distinct lengths (1 length variant = a pure
    form letter; many = a template with variable fill). Family id =
    md5(prefix) so the artifact carries no raw text.

    Scale shape: ONE scan-stage projection (split + slice + join — no
    explode) and one prefix-keyed groupBy with map-side partials;
    output ∝ families, not docs. The 8-token prefix is the blocking
    key l116's pass-1 sorted-neighborhood ordering generalizes; here
    the block IS the unit of report. Reference analog: none (LLM-data
    extension)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    pre = docs.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.concat_ws(" ", F.slice(tk, 1, 8)).alias("prefix"),
    ).filter(F.col("n_tokens") >= 8)
    fam = (
        pre.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("exemplar_id"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr("sum(n_tokens) div count(*)")
            .cast("long").alias("avg_tokens"),
            F.countDistinct("n_tokens").cast("long")
            .alias("n_length_variants"),
        )
        .filter(F.col("n_docs") >= 3)
    )
    return fam.select(
        F.md5("prefix").alias("family_id"),
        "n_docs", "exemplar_id", "total_tokens", "avg_tokens",
        "n_length_variants",
    )


@register(
    "l126_curation_pipeline_v2",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(lower(text)), ' +') AS tk
      FROM documents
    ),
    pre AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 8
                  THEN array_to_string(tk[1:8], ' ') END AS prefix,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS digest
      FROM t
    ),
    fam AS (
      SELECT prefix, min(doc_id) AS exemplar
      FROM pre WHERE prefix IS NOT NULL
      GROUP BY prefix HAVING count(*) >= 3
    ),
    a AS (  -- stage A: template strip (keep each family's exemplar)
      SELECT p.doc_id, p.digest,
             (f.prefix IS NOT NULL AND p.doc_id <> f.exemplar)
               AS drop_template
      FROM pre p LEFT JOIN fam f ON p.prefix = f.prefix
    ),
    b AS (  -- stage B: exact dedup among stage-A survivors
      SELECT doc_id, drop_template,
             (NOT drop_template) AND doc_id <> min(doc_id) FILTER (
               WHERE NOT drop_template) OVER (PARTITION BY digest)
               AS drop_exact
      FROM a
    ),
    w AS (
      SELECT doc_id,
             (CAST(('0x' || substr(md5(unnest(
                string_split_regex(trim(lower(text)), ' +'))), 1, 15))
                AS BIGINT) % 4096) * 2654435761 % 2001 AS seed_mod
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             ((CAST(SUM((seed_mod + 12345) % 2001 - 1000) AS BIGINT)
               // count(*)) + 1000) * 500 AS acc_ppm
      FROM w GROUP BY doc_id
    ),
    c AS (  -- stage C: tempered resample of stage-B survivors
      SELECT b.doc_id, b.drop_template, b.drop_exact,
             (NOT b.drop_template) AND (NOT b.drop_exact)
             AND CAST(('0x' || substr(md5('qtr' ||
                   CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000000 >= q.acc_ppm AS drop_resample
      FROM b JOIN q ON b.doc_id = q.doc_id
    )
    SELECT doc_id,
           CASE WHEN drop_template THEN 'template'
                WHEN drop_exact THEN 'exact_dup'
                WHEN drop_resample THEN 'resample'
                ELSE 'kept' END AS verdict
    FROM c
    """,
)
def l126_curation_pipeline_v2(spark, sf_dir):
    """End-to-end curation pipeline over the ROUND-12 stages — l57's
    successor wiring the new operators in production order (cheap
    structural → exact → stochastic): stage A strips template families
    (l125's 8-token prefix blocking, keep each family's min-id
    exemplar), stage B exact-dedups the survivors (l01's normalized
    digest, keep-min AMONG SURVIVORS — a template exemplar can still
    lose to a smaller-id duplicate), stage C applies quality-tempered
    rejection resampling (l122's integer ppm ramp + md5 draw) to what
    remains. Output = one verdict per document ('template' /
    'exact_dup' / 'resample' / 'kept'), the per-doc provenance a
    curation audit needs (l124 reports counts; this reports WHY each
    document left). All three stage rules are integer/md5-exact, so
    one self-contained oracle replays the whole pipeline.

    Scale shape: two scan-stage projections (prefix+digest, weights),
    a prefix-keyed groupBy, a digest-keyed window, a doc-keyed agg —
    every shuffle keyed on high-cardinality columns with map-side
    partials, no stage sees more than the corpus once. The
    keep-min-among-survivors rule is one conditional min window on
    the digest partition (the window-after-filter trap avoided by
    computing the filtered min IN the same select)."""
    docs = load_table(spark, sf_dir, "documents")
    from ekati_spark.operators.text import hashed_token_weight_milli

    tk = X.tokens(F.col("text"))
    pre = docs.select(
        "doc_id",
        F.when(F.size(tk) >= 8, F.concat_ws(" ", F.slice(tk, 1, 8)))
        .alias("prefix"),
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("digest"),
    )
    fam = (
        pre.filter(F.col("prefix").isNotNull())
        .groupBy("prefix")
        .agg(F.count("*").alias("nf"), F.min("doc_id").alias("exemplar"))
        .filter(F.col("nf") >= 3)
        .select("prefix", "exemplar")
    )
    # No broadcast hint: fam has one row per >=3-doc prefix family —
    # unbounded in the corpus size — so a forced broadcast would OOM at
    # the 100 TB contract; AQE picks broadcast itself when the
    # materialized size is actually small (the l94 confirm-join rule).
    a = pre.join(fam, "prefix", "left").select(
        "doc_id", "digest",
        (
            F.col("exemplar").isNotNull()
            & (F.col("doc_id") != F.col("exemplar"))
        ).alias("drop_template"),
    )
    wdig = W.partitionBy("digest")
    b = a.select(
        "doc_id", "drop_template",
        (
            ~F.col("drop_template")
            & (
                F.col("doc_id")
                != F.min(
                    F.when(~F.col("drop_template"), F.col("doc_id"))
                ).over(wdig)
            )
        ).alias("drop_exact"),
    )
    weights = (
        docs.select("doc_id", F.explode(tk).alias("tok"))
        .select(
            "doc_id", hashed_token_weight_milli(F.col("tok"), 4096).alias("w")
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "((sum(w) div count(*)) + 1000L) * 500L"
            ).alias("acc_ppm")
        )
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qtr"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1000000
    )
    c = b.join(weights, "doc_id").select(
        "doc_id", "drop_template", "drop_exact",
        (
            ~F.col("drop_template")
            & ~F.col("drop_exact")
            & (draw >= F.col("acc_ppm"))
        ).alias("drop_resample"),
    )
    return c.select(
        "doc_id",
        F.when(F.col("drop_template"), "template")
        .when(F.col("drop_exact"), "exact_dup")
        .when(F.col("drop_resample"), "resample")
        .otherwise("kept")
        .alias("verdict"),
    )


def _l127_oracle() -> str:
    """Fusion of the l80 BM25 chain (verbatim, top-k widened to the
    50-deep fusion pool) with a single-query exact-cosine arm and the
    reciprocal-rank-fusion tail. Splice preconditions asserted so l80
    oracle drift fails at registration (the l123/l124 rule)."""
    lex_base = _l80_oracle()
    if lex_base.count("WHERE rank <= 10") != 1:
        raise AssertionError(
            "l127 oracle splice: l80's oracle no longer ends in exactly "
            "one 'WHERE rank <= 10' — update _l127_oracle"
        )
    lex50 = lex_base.replace("WHERE rank <= 10", "WHERE rank <= 50", 1)
    return f"""
    WITH lex AS MATERIALIZED ({lex50}),
    d_q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 7),
    d_s AS (
      SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(d_q.qv,
                   CAST(e.embedding AS DOUBLE[])), 6) AS cosine
      FROM embeddings e, d_q WHERE e.vec_id <> 7
    ),
    dense AS (
      SELECT doc_id, CAST(rn AS INTEGER) AS dense_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
          AS rn FROM d_s)
      WHERE rn <= 50
    ),
    lexr AS (SELECT doc_id, CAST(rank AS INTEGER) AS lex_rank FROM lex),
    fused AS (
      SELECT doc_id, lex_rank, dense_rank,
             coalesce(1000000000 // (60 + lex_rank), 0)
               + coalesce(1000000000 // (60 + dense_rank), 0) AS rrf_nano
      FROM lexr FULL OUTER JOIN dense USING (doc_id)
    )
    SELECT doc_id, lex_rank, dense_rank,
           CAST(rrf_nano AS BIGINT) AS rrf_nano,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
            AS rank FROM fused)
    WHERE rank <= 10
    """


@register("l127_hybrid_rrf_fusion", oracle=_l127_oracle())
def l127_hybrid_rrf_fusion(spark, sf_dir):
    """HYBRID RETRIEVAL with reciprocal-rank fusion — the standard
    two-arm search every RAG / corpus-probe pipeline runs (Cormack/
    Clarke/Buettcher 2009): a LEXICAL arm (l80's exact integer
    fixed-point BM25, pool widened to top-50) and a DENSE arm (exact
    cosine top-50 for the fixed query embedding, vec_id 7), fused by
    RRF(d) = Σ_arms 1/(60 + rank_arm(d)) in exact integer nano-units
    (1e9 div (60+rank) — no float accumulation, so fusion scores are
    merge-order-free and bit-identical cross-engine), top-10 under the
    total order (rrf desc, doc_id). Output keeps each arm's rank
    (NULL when the arm missed the document) — the per-document
    provenance a fusion debug needs.

    Scale shape: each arm is its own already-audited plan (BM25: scan →
    explode → partial-agg groupBys → broadcast dfreq → WindowGroupLimit;
    dense: broadcast 1-row query → codegen'd scan-side dot → top-k);
    fusion itself joins two ≤50-row frames — constant work at any
    corpus size. The 100 TB serving shape — arms over the persisted
    postings index and an LSH ANN index with identical fusion
    semantics — is l127b, which also carries the fused-vs-exact
    overlap audit; the exact arms here keep this oracle the ground
    truth l127b's audit column references."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tot = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("l")).first()
    tf = (
        toks.filter(F.col("tok").isin(*_L80_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    lex = _bm25_topk(tf, dl, int(tot["n"]), int(tot["l"]), k=50).select(
        "doc_id", F.col("rank").cast("int").alias("lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    dense = S.brute_force_topk(emb, q, k=50).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("dense_rank"),
    )
    return _rrf_fuse(lex, dense)


def _rrf_fuse(lex, dense, k: int = 10):
    """The RRF tail shared by l127 (exact arms) and l127b (index-backed
    arms): full-outer join of two (doc_id, *_rank) frames, integer-nano
    RRF, top-k under (rrf desc, doc_id)."""
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "dense_rank",
        (
            F.coalesce(
                F.expr("1000000000L div (60 + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr("1000000000L div (60 + dense_rank)"), F.lit(0)
            )
        ).cast("long").alias("rrf_nano"),
    )
    w = W.orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def _l127b_oracle() -> str:
    """Index-backed hybrid fusion replay: the lexical arm is l127's
    lex50 chain VERBATIM (the persisted-postings store serves rankings
    hash-identical to a rebuild — l86's attested identity), the dense
    arm replays the seeded 6-plane/8-table sign-LSH candidate set (the
    l07 expression bank) re-ranked exactly, and the audit column
    membership-tests l127's full exact-fusion oracle as a nested
    subquery. Splice preconditions asserted (l123/l124 rule)."""
    lex_base = _l80_oracle()
    if lex_base.count("WHERE rank <= 10") != 1:
        raise AssertionError(
            "l127b oracle splice: l80's oracle no longer ends in exactly "
            "one 'WHERE rank <= 10' — update _l127b_oracle"
        )
    lex50 = lex_base.replace("WHERE rank <= 10", "WHERE rank <= 50", 1)
    return f"""
    WITH exact10 AS MATERIALIZED (
      SELECT doc_id FROM ({_l127_oracle()})
    ),
    lex AS MATERIALIZED ({lex50}),
    c AS MATERIALIZED (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    qf AS (SELECT v AS qv FROM c WHERE id = 7),
    cb AS (SELECT id, unnest([{_lsh_bucket_exprs("v", 6, 8)}]) AS bucket
           FROM c WHERE id <> 7),
    qb AS (SELECT unnest([{_lsh_bucket_exprs("qv", 6, 8)}]) AS bucket
           FROM qf),
    cand AS (SELECT DISTINCT cb.id FROM cb JOIN qb USING (bucket)),
    d_s AS (
      SELECT cand.id AS doc_id,
             round(list_cosine_similarity(qf.qv, c.v), 6) AS cosine
      FROM cand JOIN c ON c.id = cand.id CROSS JOIN qf
    ),
    dense AS (
      SELECT doc_id, CAST(rn AS INTEGER) AS dense_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
          AS rn FROM d_s)
      WHERE rn <= 50
    ),
    lexr AS (SELECT doc_id, CAST(rank AS INTEGER) AS lex_rank FROM lex),
    fused AS (
      SELECT doc_id, lex_rank, dense_rank,
             coalesce(1000000000 // (60 + lex_rank), 0)
               + coalesce(1000000000 // (60 + dense_rank), 0) AS rrf_nano
      FROM lexr FULL OUTER JOIN dense USING (doc_id)
    )
    SELECT doc_id, lex_rank, dense_rank,
           CAST(rrf_nano AS BIGINT) AS rrf_nano,
           CAST(rank AS INTEGER) AS rank,
           CAST(CASE WHEN doc_id IN (SELECT doc_id FROM exact10)
                THEN 1 ELSE 0 END AS INTEGER) AS in_exact_top10
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
            AS rank FROM fused)
    WHERE rank <= 10
    """


def _l127b_store(spark, sf_dir) -> str:
    """One persisted postings store per (session, sf_dir): a deployment
    materializes its lexical index ONCE (build-once/serve-many is the
    l86 economics) and every l127b invocation after the first serves
    from it, so the measured cost is the query-time tail, not a
    per-invocation corpus re-tokenization + parquet round trip."""

    def build() -> str:
        base = mkscratch("l127b_idx_")
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), " +")).alias("tok"),
        )
        postings = toks.groupBy("doc_id", "tok").agg(
            F.count("*").alias("tf")
        )
        dl_full = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
        stat = dl_full.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
        )
        postings.write.mode("overwrite").parquet(f"{base}/postings")
        dl_full.write.mode("overwrite").parquet(f"{base}/dl")
        stat.write.mode("overwrite").parquet(f"{base}/stats")
        return base

    return get_or_build(spark, "l127b_postings", sf_dir, build, rmscratch)


@register("l127b_hybrid_rrf_indexed", oracle=_l127b_oracle())
def l127b_hybrid_rrf_indexed(spark, sf_dir):
    """INDEX-BACKED hybrid retrieval — the 100 TB serving shape l127's
    docstring promised (the l05/l05b exact-vs-ANN precedent): the
    LEXICAL arm scores the l80 query from a PERSISTED postings store
    (l86's three-table layout: postings / doc lengths / mergeable
    corpus-stat partials — cost ∝ posting rows for the query terms,
    never a corpus re-tokenization) and the DENSE arm retrieves through
    seeded sign-LSH buckets (l07's 6-plane × 8-table configuration:
    candidate generation shuffles bucket-matched rows only) re-ranked
    exactly, fused by the IDENTICAL integer-nano RRF tail. The output
    adds ``in_exact_top10`` — per-doc membership in l127's exact-arm
    fused top-10, the fused-vs-exact rank-overlap audit (read
    sum(in_exact_top10) as overlap@10): the committed evidence for
    what the index path trades, next to l130's pre-serving index
    metrics. Deterministic end-to-end (store-served BM25 rankings are
    hash-identical to a rebuild — l86's attested identity — and the
    LSH candidate set is seeded), so the oracle replays both arms,
    the fusion, and the audit bit-exactly.

    The store builds ONCE per (session, sf_dir) (``_l127b_store``) —
    the warm path reads three parquet tables and never touches the
    corpus text, so the measured cost is the l127-shaped query tail,
    not the index build (the round-14 verdict's serving-only ask)."""
    base = _l127b_store(spark, sf_dir)
    tot = (
        spark.read.parquet(f"{base}/stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("total_len").alias("l"))
        .first()
    )
    tf = spark.read.parquet(f"{base}/postings").filter(
        F.col("tok").isin(*_L80_TERMS)
    )
    dl = spark.read.parquet(f"{base}/dl")
    # LAZY lineage cut (round-16 verdict item 1): the eager cut ran the
    # whole lexical arm as its own driver-sequential job chain BEFORE
    # the dense arms even planned. Both consumers (indexed fusion +
    # exact audit) sit inside the ONE final action, so the lazy
    # checkpoint materializes once there — and AQE then overlaps the
    # lexical arm's stages with both dense arms' stages instead of
    # serializing them (guide §2.6).
    lex = _bm25_topk(tf, dl, int(tot["n"]), int(tot["l"]), k=50).select(
        "doc_id", F.col("rank").cast("int").alias("lex_rank")
    ).transform(cut_lineage_lazy)  # consumed 2x, both in the final job
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # dim=64 is the declared corpus contract (the oracle's candidate
    # CTE filters len(embedding) = 64) — skips the inference job
    dense_ann = S.ann_lsh_buckets(emb, q, k=50, n_planes=6, dim=64).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("dense_rank"),
    )
    dense_exact = S.brute_force_topk(emb, q, k=50).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("dense_rank"),
    )
    exact10 = (
        _rrf_fuse(lex, dense_exact)
        .select("doc_id")
        .withColumn("in_exact", F.lit(1))
    )
    return (
        _rrf_fuse(lex, dense_ann)
        .join(exact10, "doc_id", "left")
        .select(
            "doc_id", "lex_rank", "dense_rank", "rrf_nano", "rank",
            F.coalesce("in_exact", F.lit(0))
            .cast("int").alias("in_exact_top10"),
        )
    )


_MMR_K, _MMR_POOL = 10, 50


def _l128_oracle() -> str:
    """Unrolled 10-step greedy MMR chain (the g39/l54 MATERIALIZED-CTE
    precedent — DuckDB inlines once-referenced CTEs, and an unrolled DP
    re-expands its upstream exponentially without the marker)."""
    steps = []
    prev = "sel1"
    for t in range(2, _MMR_K + 1):
        steps.append(f"""
    pick{t} AS MATERIALIZED (
      SELECT p.doc_id, p.rel_micro,
             7 * p.rel_micro - 3 * MAX(s.sim_micro) AS score
      FROM pool p
      JOIN sims s ON s.da = p.doc_id
       AND s.db IN (SELECT doc_id FROM {prev})
      WHERE p.doc_id NOT IN (SELECT doc_id FROM {prev})
      GROUP BY p.doc_id, p.rel_micro
    ),
    step{t} AS MATERIALIZED (
      SELECT doc_id, rel_micro, CAST(score AS BIGINT) AS score
      FROM pick{t} ORDER BY score DESC, doc_id LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM step{t}
    )""")
        prev = f"sel{t}"
    union = "\n      UNION ALL ".join(
        f"SELECT {t} AS mmr_rank, doc_id, rel_micro, score FROM step{t}"
        for t in range(1, _MMR_K + 1)
    )
    return f"""
    WITH d_q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id = 7),
    cand AS MATERIALIZED (
      SELECT e.vec_id AS doc_id, CAST(e.embedding AS DOUBLE[]) AS v,
             CAST(floor(round(list_cosine_similarity(d_q.qv,
                    CAST(e.embedding AS DOUBLE[])), 6) * 1000000
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rel_micro
      FROM embeddings e, d_q WHERE e.vec_id <> 7
    ),
    pool AS MATERIALIZED (
      SELECT doc_id, v, rel_micro FROM (
        SELECT *, row_number() OVER (ORDER BY rel_micro DESC, doc_id)
          AS rn FROM cand)
      WHERE rn <= {_MMR_POOL}
    ),
    sims AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(floor(round(list_cosine_similarity(a.v, b.v), 6)
                  * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sim_micro
      FROM pool a JOIN pool b ON a.doc_id <> b.doc_id
    ),
    step1 AS MATERIALIZED (
      SELECT doc_id, rel_micro, CAST(7 * rel_micro AS BIGINT) AS score
      FROM pool ORDER BY rel_micro DESC, doc_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id FROM step1),
    {",".join(steps)}
    SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, doc_id, rel_micro,
           score
    FROM ({union})
    """


@register("l128_mmr_diversified_topk", oracle=_l128_oracle())
def l128_mmr_diversified_topk(spark, sf_dir):
    """MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell/Goldstein 1998) —
    the diversity-aware top-k every retrieval/eval-set-builder runs so
    10 near-identical hits don't crowd out coverage: over the exact
    cosine top-50 pool for the fixed query (vec_id 7), greedily pick 10
    by argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s) with λ=0.7, all in
    exact integer micro units (score = 7·rel_micro − 3·max_sim_micro;
    the ×10-scaled λ keeps every comparison integer, ties break by
    doc_id, and the first pick's empty-set max is 0 by convention) —
    so the greedy trajectory is bit-replayable and the oracle unrolls
    it as a 10-step MATERIALIZED CTE chain.

    Scale shape: the DISTRIBUTED work is candidate generation (the
    already-audited dense-arm plan) and the pool's 50×50 pairwise sim
    join — both independent of corpus size past the top-k cut. The
    greedy selection itself is O(k·pool) on ≤50 rows and runs
    driver-side over ``collect_bounded`` frames (the documented
    small-by-contract pattern: a production MMR re-ranks one result
    page, never the corpus; the bound RAISES if the contract breaks).
    Scores stay Spark-computed doubles→micro ints, so no driver float
    op touches the comparison path."""

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    micro = lambda c: F.floor(  # noqa: E731 — round6-then-micro, both engines
        c * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    pool = (
        S.brute_force_topk(emb, q, k=_MMR_POOL)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            micro(F.col("cosine")).alias("rel_micro"),
        )
    )
    pv = pool.join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            S._as_double(F.col("embedding")).alias("v"),
        ),
        "doc_id",
    ).transform(cut_lineage)  # consumed 2x: sims self-join sides
    a = pv.select(
        F.col("doc_id").alias("da"), F.col("v").alias("va")
    )
    b = pv.select(
        F.col("doc_id").alias("db"), F.col("v").alias("vb")
    )
    pair_cos = F.round(S.cosine(F.col("va"), F.col("vb")), 6)
    sims = (
        a.join(b, F.col("da") != F.col("db"))
        .select("da", "db", micro(pair_cos).alias("sim_micro"))
    )
    pool_rows = collect_bounded(pool, _MMR_POOL, "l128 MMR pool")
    sim_rows = collect_bounded(
        sims, _MMR_POOL * (_MMR_POOL - 1), "l128 MMR pairwise sims"
    )
    rel = {r.doc_id: int(r.rel_micro) for r in pool_rows}
    sim = {(r.da, r.db): int(r.sim_micro) for r in sim_rows}
    selected = _mmr_greedy(rel, sim, _MMR_K)
    return spark.createDataFrame(
        selected, "mmr_rank int, doc_id long, rel_micro long, score long"
    )


def _mmr_greedy(
    rel: dict, sim: dict, k: int
) -> list[tuple[int, object, int, int]]:
    """Integer MMR greedy over a bounded pool: argmax 7·rel − 3·max_sim,
    score ties broken by SMALLEST doc id. Ids may be int or str (any
    totally ordered type): ascending-id iteration with a strict ``>``
    keeps the first (smallest) id on ties without negating the key —
    a negated str key is a TypeError (tests/test_operators.py pins
    str-id behavior). Returns (mmr_rank, doc_id, rel_micro, score)."""
    selected: list[tuple[int, object, int, int]] = []
    chosen: list = []
    while len(selected) < k and len(chosen) < len(rel):
        best = None
        for d in sorted(rel):
            if d in chosen:
                continue
            max_sim = max(
                (sim.get((d, s), 0) for s in chosen), default=0
            )
            score = 7 * rel[d] - 3 * max_sim
            if best is None or score > best[0]:
                best = (score, d)
        selected.append(
            (len(selected) + 1, best[1], rel[best[1]], best[0])
        )
        chosen.append(best[1])
    return selected


_MW_ROUNDS, _MW_ETA_DEN = 5, 4  # eta = 1/4 per round


def _l129_oracle() -> str:
    """Unrolled 5-round multiplicative-weights chain, MATERIALIZED per
    round (the g39 unrolled-DP rule)."""
    rounds = []
    prev = "w0"
    for t in range(1, _MW_ROUNDS + 1):
        rounds.append(f"""
    raw{t} AS MATERIALIZED (
      SELECT source, excess_ppm,
             w * (4000000 + excess_ppm) AS raw
      FROM {prev}
    ),
    sp{t} AS MATERIALIZED (
      SELECT source, excess_ppm,
             raw * 1000000 // SUM(raw) OVER () AS fl,
             raw * 1000000 % SUM(raw) OVER () AS rem
      FROM raw{t}
    ),
    w{t} AS MATERIALIZED (
      SELECT source, excess_ppm,
             fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                       <= 1000000 - SUM(fl) OVER () THEN 1 ELSE 0 END AS w
      FROM sp{t}
    )""")
        prev = f"w{t}"
    return f"""
    WITH per AS (
      SELECT source,
             CAST(len(tks) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(tks)) AS BIGINT) AS n_dist
      FROM (SELECT source,
                   string_split_regex(trim(lower(text)), ' +') AS tks
            FROM documents)
    ),
    d AS MATERIALIZED (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(1000000 * n_dist // n_tok) AS BIGINT) AS s_utr
      FROM per WHERE n_tok > 0 GROUP BY source
    ),
    dx AS MATERIALIZED (
      SELECT source, n_docs, s_utr // n_docs AS mean_utr_ppm,
             s_utr // n_docs
               - SUM(s_utr) OVER () // SUM(n_docs) OVER () AS excess_ppm
      FROM d
    ),
    w0 AS MATERIALIZED (
      SELECT source, excess_ppm,
             1000000 // COUNT(*) OVER ()
               + CASE WHEN row_number() OVER (ORDER BY source)
                      <= 1000000 % COUNT(*) OVER () THEN 1 ELSE 0 END AS w
      FROM dx
    ),
    {",".join(rounds)}
    SELECT dx.source, dx.n_docs,
           CAST(dx.mean_utr_ppm AS BIGINT) AS mean_utr_ppm,
           CAST(dx.excess_ppm AS BIGINT) AS excess_ppm,
           CAST(wf.w AS BIGINT) AS weight_ppm
    FROM dx JOIN {prev} wf USING (source)
    """


@register("l129_domain_reweighting", oracle=_l129_oracle())
def l129_domain_reweighting(spark, sf_dir):
    """DOMAIN MIXTURE REWEIGHTING by multiplicative weights — the
    DoReMi-shaped loop (Xie et al. 2023) that turns a per-domain
    "excess" signal into a training mixture: domains whose documents
    score above the corpus mean get upweighted multiplicatively over 5
    rounds, w_d ← w_d·(1 + η·excess_d) with η=1/4, renormalized to
    EXACTLY 1e6 ppm each round by largest-remainder apportionment (the
    l47 contract — Σ weight_ppm == 1e6, no float drift, ties by
    source). The excess proxy is integer type-token diversity: per-doc
    utr_ppm = 1e6·distinct_tokens div tokens, domain excess = domain
    mean − corpus mean (trunc div throughout), standing in for the
    reference-vs-proxy excess loss the full DoReMi computes — the
    OPTIMIZER loop is the operator here, and every step is exact
    integer so the oracle unrolls all 5 rounds bit-identically.

    Scale shape: the distributed work is one tokenizing scan + a
    source-keyed aggregate (map-side partials, one shuffle on the
    domain key); the MW loop itself is O(D·T) on the ≤dozens-of-domains
    frame, run driver-side over a ``collect_bounded`` contract (the
    l128 pattern; a mixture optimizer's state IS the domain table).
    Output: per domain, the diversity stats, excess, and the final
    ppm weight a sampler (l43/l47) consumes directly."""

    docs = load_table(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    per = docs.select(
        "source",
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_dist"),
    ).filter(F.col("n_tok") > 0)
    d = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.expr("1000000L * n_dist div n_tok"))
        .cast("long")
        .alias("s_utr"),
    )
    rows = collect_bounded(d, 4096, "l129 domain table")
    tot_docs = sum(r.n_docs for r in rows)
    tot_utr = sum(r.s_utr for r in rows)
    corpus_mean = tot_utr // tot_docs
    doms = sorted(rows, key=lambda r: r.source)
    stats = {
        r.source: (
            r.n_docs,
            r.s_utr // r.n_docs,
            r.s_utr // r.n_docs - corpus_mean,
        )
        for r in doms
    }
    n_dom = len(doms)
    w = {
        r.source: 1000000 // n_dom + (1 if i < 1000000 % n_dom else 0)
        for i, r in enumerate(doms)
    }
    for _ in range(_MW_ROUNDS):
        raw = {s: w[s] * (4000000 + stats[s][2]) for s in w}
        tot = sum(raw.values())
        fl = {s: raw[s] * 1000000 // tot for s in raw}
        rem = {s: raw[s] * 1000000 % tot for s in raw}
        deficit = 1000000 - sum(fl.values())
        order = sorted(w, key=lambda s: (-rem[s], s))
        w = {
            s: fl[s] + (1 if order.index(s) < deficit else 0) for s in w
        }
    out = [
        (s, stats[s][0], stats[s][1], stats[s][2], w[s]) for s in
        sorted(w)
    ]
    return spark.createDataFrame(
        out,
        "source string, n_docs long, mean_utr_ppm long, "
        "excess_ppm long, weight_ppm long",
    )


# nDCG@10 integer micro discounts: floor(1e6/log2(i+1) + 0.5) for rank
# i = 1..10, precomputed ONCE in Python and inlined as literals on BOTH
# sides — neither engine evaluates log2 at query time, so there is no
# libm ulp hazard in the metric (the l83/l48 integer-constant rule).
_NDCG_DISC = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_IDCG10 = sum(_NDCG_DISC)


def _l130_oracle() -> str:
    """l07's LSH chain reused verbatim (top-k widened to 10, splice
    preconditions asserted) + an exact top-10 CTE + the metric tail."""
    ann_base = _l07_oracle()
    if ann_base.count("WHERE rn <= 5") != 1:
        raise AssertionError(
            "l130 oracle splice: l07's oracle no longer ends in exactly "
            "one 'WHERE rn <= 5' — update _l130_oracle"
        )
    ann10 = ann_base.replace("WHERE rn <= 5", "WHERE rn <= 10", 1)
    disc = ", ".join(str(d) for d in _NDCG_DISC)
    return f"""
    WITH ann AS MATERIALIZED ({ann10}),
    ex AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      WHERE rn <= 10
    ),
    j AS (
      SELECT a.query_id, a.rank,
             CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM ann a LEFT JOIN ex e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    ),
    m AS (
      SELECT query_id,
             CAST(SUM(rel) AS BIGINT) AS n_hits,
             SUM(rel) * 1000000 // 10 AS recall_ppm,
             coalesce(1000000000 //
               MIN(CASE WHEN rel = 1 THEN rank END), 0) AS mrr_nano,
             CAST(SUM(rel * ([{disc}])[rank]) AS BIGINT) AS dcg_micro
      FROM j GROUP BY query_id
    )
    SELECT q.query_id,
           coalesce(m.n_hits, 0) AS n_hits,
           CAST(coalesce(m.recall_ppm, 0) AS BIGINT) AS recall_ppm,
           CAST(coalesce(m.mrr_nano, 0) AS BIGINT) AS mrr_nano,
           coalesce(m.dcg_micro, 0) AS dcg_micro,
           CAST(coalesce(m.dcg_micro, 0) * 1000000 // {_IDCG10}
                AS BIGINT) AS ndcg_ppm
    FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN m USING (query_id)
    """


@register("l130_retrieval_quality_metrics", oracle=_l130_oracle())
def l130_retrieval_quality_metrics(spark, sf_dir):
    """RETRIEVAL QUALITY METRICS of the ANN arm against exact ground
    truth — the evaluation table every index deployment publishes:
    per query (the 10 fixed probes), recall@10, MRR@10, and nDCG@10 of
    l07's multi-table sign-LSH top-10 versus the exact cosine top-10.
    All three metrics are exact integers: recall in ppm, reciprocal
    rank as 1e9 div first-relevant-rank, and nDCG from PRECOMPUTED
    integer micro discounts (floor(1e6/log2(i+1)+0.5) inlined as
    literals on both sides — no engine evaluates log2 at query time,
    so no libm divergence; binary relevance makes IDCG the constant
    prefix sum). Queries whose candidate set came back empty score 0
    across the board via the left join from the probe list.

    Scale shape: the ANN arm is l07's audited plan (bucket equi-join,
    broadcast probe side); ground truth is the |Q|·n exact baseline
    (bounded: 10 probes); the metric join touches ≤ 10·10 rows per
    query. At 100 TB ground truth comes from a held-out labeled slice
    and the same integer tail applies unchanged — this is the audit
    run BEFORE swapping an index into serving (complements l85's
    per-band recall audit with the rank-position metrics)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ann = S.ann_lsh_buckets(emb, q, k=10, n_planes=6).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )
    exact = S.brute_force_topk(emb, q, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("rel_flag")
    )
    j = ann.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id", "rank",
        F.coalesce("rel_flag", F.lit(0)).alias("rel"),
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rank")
    )
    m = j.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_hits"),
        F.expr("sum(rel) * 1000000L div 10").cast("long").alias("recall_ppm"),
        F.coalesce(
            F.expr(
                "1000000000L div min(CASE WHEN rel = 1 THEN rank END)"
            ),
            F.lit(0),
        ).cast("long").alias("mrr_nano"),
        F.sum(F.col("rel") * disc).cast("long").alias("dcg_micro"),
    )
    probes = exact.select("query_id").distinct()
    return probes.join(m, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce("recall_ppm", F.lit(0)).cast("long").alias("recall_ppm"),
        F.coalesce("mrr_nano", F.lit(0)).cast("long").alias("mrr_nano"),
        F.coalesce("dcg_micro", F.lit(0)).cast("long").alias("dcg_micro"),
        F.expr(
            f"coalesce(dcg_micro, 0L) * 1000000L div {_IDCG10}"
        ).cast("long").alias("ndcg_ppm"),
    )


def _l131_oracle() -> str:
    """Per-n replication of l30's gram CTE (widths 8 and 13, generated
    from one template so the two slices can't diverge) + the per-source
    rate rollup."""
    slices = []
    for w in (8, 13):
        concat = "||' '||".join(f"t[i+{k}]" if k else "t[i]"
                                for k in range(w))
        slices.append(f"""
    grams{w} AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - {w - 2}), i -> {concat}))) AS g
      FROM tk
    ),
    bench{w} AS (SELECT DISTINCT g FROM grams{w} WHERE doc_id % 10 = 0),
    hit{w} AS (
      SELECT DISTINCT c.doc_id FROM grams{w} c JOIN bench{w} USING (g)
      WHERE c.doc_id % 10 <> 0
    ),
    slice{w} AS (
      SELECT {w} AS n, d.source,
             CAST(count(*) AS BIGINT) AS docs_total,
             CAST(count(h.doc_id) AS BIGINT) AS docs_contaminated,
             CAST(count(h.doc_id) * 1000000 // count(*) AS BIGINT)
               AS rate_ppm
      FROM documents d LEFT JOIN hit{w} h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 10 <> 0
      GROUP BY d.source
    )""")
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    {",".join(slices)}
    SELECT CAST(n AS INTEGER) AS n, source, docs_total,
           docs_contaminated, rate_ppm
    FROM (SELECT * FROM slice8 UNION ALL SELECT * FROM slice13)
    """


@register("l131_contamination_report", oracle=_l131_oracle())
def l131_contamination_report(spark, sf_dir):
    """CONTAMINATION-RATE REPORT per (n-gram width, source) — the table
    a model card publishes (the GPT-3 appendix shape: overlap rates at
    a strict and a loose n): for n ∈ {8, 13}, a training document is
    contaminated when it shares any word n-gram with the held-out
    benchmark set (l30's convention: every 10th doc), rolled up per
    source as docs_total / docs_contaminated / integer-ppm rate. The
    13-gram slice is the published decontamination width; the 8-gram
    slice is the aggressive audit — divergence between them is the
    signal reviewers read. Gram row-sets per width are exactly l30's
    decontaminate operator's (pinned in pytest), so the report and the
    per-doc query can't drift.

    Scale shape: ONE fused codegen shingle pass over the corpus
    emitting (doc, n, g) for BOTH widths (multi_width_shingle_rows —
    the round-13 two-pass form shingled the 100 TB side twice; a
    plan-shape test pins exactly two text-reading scans: corpus +
    benchmark) + a broadcast of the dimension-sized benchmark gram set
    keyed by (n, g) + a doc-keyed distinct and a source-keyed rollup —
    no corpus-sized shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    bench_pred = F.col("doc_id") % 10 == 0
    train = docs.filter(~bench_pred)
    bench = docs.filter(bench_pred)
    widths = [8, 13]
    bench_grams = (
        D.multi_width_shingle_rows(bench, widths)
        .select("n", "g")
        .distinct()
    )
    hits = (
        D.multi_width_shingle_rows(train, widths)
        .join(F.broadcast(bench_grams), ["n", "g"])
        .select("n", F.col("id").alias("doc_id"))
        .distinct()
    )
    # grid = per-source totals × widths (a literal-array explode over
    # the |sources|-row aggregate — no join); contaminated counts land
    # by left join so zero-hit cells keep their 0 (oracle parity)
    grid = (
        train.groupBy("source")
        .agg(F.count("*").cast("long").alias("docs_total"))
        .select(
            "source", "docs_total",
            F.explode(
                F.array(*[F.lit(w).cast("int") for w in widths])
            ).alias("n"),
        )
    )
    cont = (
        hits.join(train.select("doc_id", "source"), "doc_id")
        .groupBy("n", "source")
        .agg(F.count("*").cast("long").alias("docs_contaminated"))
    )
    return (
        grid.join(cont, ["n", "source"], "left")
        .select(
            "n", "source", "docs_total",
            F.coalesce("docs_contaminated", F.lit(0))
            .cast("long").alias("docs_contaminated"),
        )
        .withColumn(
            "rate_ppm",
            F.expr(
                "docs_contaminated * 1000000L div docs_total"
            ).cast("long"),
        )
    )


@register(
    "l132_suffix_dedup_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ts
      FROM documents WHERE trim(text) <> ''
    ),
    suf AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             list_slice(ts, i, least(i + 31, len(ts))) AS arr
      FROM toks, unnest(generate_series(1, len(ts))) AS u(i)
    ),
    keyed AS (
      SELECT doc_id, pos, arr,
             row_number() OVER (
               ORDER BY array_to_string(arr, ' '), doc_id, pos) AS idx
      FROM suf
    ),
    adj AS (
      SELECT a.idx,
             coalesce(list_position(
               list_transform(range(1, greatest(len(a.arr), len(b.arr)) + 1),
                              i -> a.arr[i] IS NOT DISTINCT FROM b.arr[i]),
               false), 0) AS p,
             least(len(a.arr), len(b.arr)) AS minlen
      FROM keyed a JOIN keyed b ON b.idx = a.idx + 1
    ),
    plcp AS (
      SELECT idx, CASE WHEN p = 0 THEN minlen ELSE p - 1 END AS lcp FROM adj
    ),
    duplen AS (
      SELECT k.doc_id AS doc_id, k.pos AS pos,
             greatest(coalesce(n.lcp, 0), coalesce(pr.lcp, 0)) AS dup_len
      FROM keyed k
      LEFT JOIN plcp n ON n.idx = k.idx
      LEFT JOIN plcp pr ON pr.idx = k.idx - 1
    ),
    agg AS (
      SELECT doc_id, CAST(max(dup_len) AS INTEGER) AS max_dup_len,
             CAST(sum(CASE WHEN dup_len >= 15 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_suffixes
      FROM duplen GROUP BY doc_id
    )
    SELECT agg.doc_id AS doc_id, agg.max_dup_len AS max_dup_len,
           CAST(min(d.pos) AS INTEGER) AS span_start,
           CAST(min(d.pos) + agg.max_dup_len - 1 AS INTEGER) AS span_end,
           agg.n_dup_suffixes AS n_dup_suffixes
    FROM agg JOIN duplen d
      ON d.doc_id = agg.doc_id AND d.dup_len = agg.max_dup_len
    WHERE agg.max_dup_len >= 15
    GROUP BY agg.doc_id, agg.max_dup_len, agg.n_dup_suffixes
    """,
)
def l132_suffix_dedup_spans(spark, sf_dir):
    """SUFFIX-ARRAY exact-substring dedup report — per document, the
    exact length (token-measured, capped at 32) and start of its
    longest substring occurring elsewhere in the corpus, plus its count
    of suffixes opening a >= 15-token duplicated substring. The true
    suffix-array semantics of the "deduplicate training data"
    substring recipe, complementing l28's gram-island approximation
    (there, every 8-gram of a flagged span may match a DIFFERENT other
    location; here one contiguous match is measured exactly).
    Deterministic end-to-end — one distributed range-sort of capped
    suffix windows under a total order, adjacent-pair token LCP — so
    the DuckDB oracle replays the sort, the LCP expression, and the
    per-doc aggregate exactly. Scale: every stage linear in corpus
    tokens; the range-sort is the documented cost (see
    operators/dedup.py::suffix_window_spans — the ordered_row_number
    machinery never collapses into a single-reducer window)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.suffix_window_spans(docs, cap=32, min_len=15)


_KNN_DIM = 64
_L135_BASE = "vec_id % 23 != 0"  # l135/st35's frozen pre-insert corpus
_L136_UPPER = "vec_id % 16 = 0"  # l136's sampled upper layer


class _KnnGraph(NamedTuple):
    edges: DataFrame  # directed (query_id, neighbor_id), persisted
    adj: DataFrame  # undirected distinct (a, b), persisted at first read
    n_planes: int  # the build's LSH planes, which an insert probes with


def _knn_valid(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _KNN_DIM)
    )


def _knn_graph(spark, sf_dir, slot, k=5, rounds=1, where=None) -> _KnnGraph:
    """The NN-Descent k-NN graph over the valid embeddings (those
    matching the SQL predicate ``where``), built once per (session,
    sf_dir) into store slot ``slot``: the graph-ANN index l133–l136 and
    st35 serve, delete from and append to. Its directed edges are
    persisted and filled at build; their undirected adjacency, which
    every serve hop joins, is persisted too but fills at its first
    read, so a slot whose callers read only the edges (l135, st35)
    never builds it. The edges stay cached under every slot, also
    where only the adjacency is served (l133, l136's upper layer):
    they are its source until it fills. Measured at sf0.01, those
    edges take 30 KB, and all four slots' frames 0.12 MB."""

    def build() -> _KnnGraph:
        corpus = _knn_valid(spark, sf_dir)
        if where is not None:
            corpus = corpus.filter(where)
        n_planes = S.auto_n_planes(corpus.count())
        edges = (
            S.knn_graph_nndescent(
                corpus, k=k, n_planes=n_planes, n_tables=4, dim=_KNN_DIM,
                rounds=rounds,
            )
            .select("query_id", "neighbor_id")
            .persist()
        )
        edges.count()
        adj = S.undirected(edges, "query_id", "neighbor_id").toDF("a", "b")
        return _KnnGraph(edges, adj.persist(), n_planes)

    def dispose(g: _KnnGraph) -> None:
        g.edges.unpersist()
        g.adj.unpersist()

    return get_or_build(
        spark, slot, (sf_dir, k, rounds, where), build, dispose
    )


def _knn_corpus(spark, sf_dir):
    """The valid embeddings with their norms, (id, v, nv), and the
    query panel drawn from them, (query_id, qv, nq): both persisted
    once per (session, sf_dir), the corpus and queries l133 and l136
    route, re-rank and audit against. The panel is persisted apart
    because every scoring join reads it: filtered from the cached
    corpus per use, it rescans the whole corpus each time (measured at
    sf0.01 on 4 cores: l136 warm 23 + 11 jobs and 4.8 s, against
    19 + 9 jobs and 3.6 s persisted).

    Panel: % 37 spreads queries across the id space, and the < 2048
    cap pins |Q| <= 56 at ANY corpus size (l06's bounded-query
    principle at panel scale). Without it the exact AUDIT arm, |Q|·n by
    construction, silently grows quadratic as both |Q| and n scale with
    the corpus (measured 97 s at sf1). All graded SFs have ids < 2048,
    so the cap is invisible there."""

    def build():
        c = (
            _knn_valid(spark, sf_dir)
            .select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
                S.norm("embedding", _KNN_DIM).alias("nv"),
            )
            .persist()
        )
        q = (
            c.filter((F.col("id") % 37 == 0) & (F.col("id") < 2048))
            .select(
                F.col("id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nv").alias("nq"),
            )
            .persist()
        )
        q.count()  # also fills the corpus cache, which q is filtered from
        return c, q

    def dispose(cq) -> None:
        for df in cq:
            df.unpersist()

    return get_or_build(spark, "knn_corpus", sf_dir, build, dispose)


def _l133_oracle() -> str:
    """Replay: the graph CTE is the parameterized NN-Descent oracle at
    the store's build parameters (k=8, rounds=2 — the SAME generator
    that produces l119's oracle at (5, 1), so engine and oracle stay
    in lockstep by construction, no string surgery), MATERIALIZED
    because it is referenced by both hop CTEs (DuckDB inlines
    once-per-parent CTE references — the g39 blowup). UNDIRECTED
    expansion (union both edge directions — NN-Descent's general
    neighbors), re-rank, and the exact-top-5 audit are plain joins +
    QUALIFY."""
    return f"""
    WITH graph AS MATERIALIZED ({_nndescent_oracle_sql(k=8, rounds=2)}),
    c AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    q AS (SELECT id AS query_id, v AS qv FROM c
          WHERE id % 37 = 0 AND id < 2048),
    und AS (SELECT query_id AS src, neighbor_id AS dst FROM graph
            UNION SELECT neighbor_id, query_id FROM graph),
    h1 AS (SELECT q.query_id, u.dst
           FROM q JOIN und u ON u.src = q.query_id),
    h2 AS (SELECT h1.query_id, u.dst
           FROM h1 JOIN und u ON u.src = h1.dst),
    cand AS (
      SELECT DISTINCT query_id, dst FROM (
        SELECT query_id, dst FROM h1
        UNION ALL SELECT query_id, dst FROM h2)
      WHERE dst <> query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.dst AS neighbor_id,
             round(list_cosine_similarity(q.qv, c.v), 6) AS cosine
      FROM cand JOIN q ON q.query_id = cand.query_id
                JOIN c ON c.id = cand.dst
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ),
    exact AS (
      SELECT q.query_id, e.id AS neighbor_id
      FROM q JOIN c e ON e.id <> q.query_id
      QUALIFY row_number() OVER (PARTITION BY q.query_id
        ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC, e.id) <= 5
    )
    SELECT r.query_id AS query_id, r.neighbor_id AS neighbor_id,
           r.cosine AS cosine, CAST(r.rn AS INTEGER) AS rank,
           CAST(CASE WHEN x.neighbor_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
             AS in_exact_top5
    FROM ranked r LEFT JOIN exact x
      ON x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id
    WHERE r.rn <= 5
    """


@register("l133_knn_graph_serve", oracle=_l133_oracle())
def l133_knn_graph_serve(spark, sf_dir):
    """GRAPH-based ANN SERVING — the third serving form, completing
    the triad: table-based LSH serves l127b's dense arm, partition-
    based IVF serves l108b, and here queries navigate a PERSISTED
    NN-Descent k-NN graph (l119's construction at beefier build
    parameters — k=8, rounds=2 — built once per session/sf_dir and
    persisted with its undirected adjacency in a session store: the
    DiskANN/HNSW premise that the graph IS the index and serve-time
    work is independent of corpus size): seeds = the query's general
    neighbors (out- plus in-edges, undirected degree ≤ 2k), candidates
    = the 2-hop expansion N(q) ∪ N(N(q)) (≤ 2k + (2k)² rows per query
    at fixed degree — serve cost is Θ(|Q|·k²), never Θ(|Q|·n)), exact
    cosine re-rank to top-5, plus a per-row ``in_exact_top5`` audit
    against the brute-force top-5 — the serve kernel
    ``similarity.graph_serve_topk``, shared with l136
    (the l127b ``in_exact_top10`` pattern — the committed recall
    evidence; measured overlap@5 0.56 at sf0.01 on the near-random
    synthetic embeddings, vs 0.26 for a degree-5/1-round graph —
    build-time investment the store amortizes). Deterministic
    end-to-end (the graph is the attested-deterministic NN-Descent
    construction; expansion/re-rank are joins + a round-6 rank), so
    the DuckDB oracle replays graph, hops, re-rank, and audit exactly
    — the graph CTE comes from the SAME parameterized generator as
    l119's oracle. The exact-audit arm is l06's sanctioned broadcast
    shape; the SERVING arms are equi-joins only."""
    # Beefier build than l119's registered query (k=8 degree, two
    # NN-Descent rounds): the store is built once and amortized, so
    # build-time investment buys serve-time recall — measured
    # overlap@5 at sf0.01: 0.26 (k=5, r=1) → 0.56 (k=8, r=2).
    g = _knn_graph(spark, sf_dir, "l133_graph", k=8, rounds=2)
    c, q = _knn_corpus(spark, sf_dir)
    seeds = q.select("query_id", F.col("query_id").alias("node"))
    return S.graph_serve_topk(seeds, g.adj, c, q, k=5, dim=_KNN_DIM)


def _l134_oracle() -> str:
    """Replay: the graph CTE is the SAME parameterized NN-Descent
    oracle as l119's (k=5, rounds=1 — the l133 nesting precedent),
    MATERIALIZED because the consolidation references it three times
    (live edges, patch source). Delete set = vec_id % 23 = 0 — a pure
    predicate both engines evaluate identically. The patch rule,
    micro-score re-rank (floor(round(cos,6)·1e6+0.5) — the l80 smicro
    integer form), and per-node aggregates are joins + QUALIFY-free
    window ranks; every sum is an integer sum (order-free)."""
    return f"""
    WITH graph AS MATERIALIZED ({_nndescent_oracle_sql(k=5, rounds=1)}),
    c AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    live AS (SELECT query_id AS u, neighbor_id AS x FROM graph
             WHERE query_id % 23 <> 0),
    lostn AS (SELECT u, x AS d FROM live WHERE x % 23 = 0),
    affected AS (SELECT DISTINCT u FROM lostn),
    keptn AS (
      SELECT l.u, l.x FROM live l JOIN affected a ON l.u = a.u
      WHERE l.x % 23 <> 0
    ),
    candn AS (
      SELECT l.u, g2.neighbor_id AS x
      FROM lostn l JOIN graph g2 ON g2.query_id = l.d
      WHERE g2.neighbor_id % 23 <> 0 AND g2.neighbor_id <> l.u
    ),
    pool AS (
      SELECT DISTINCT u, x FROM (
        SELECT u, x FROM keptn UNION ALL SELECT u, x FROM candn)
    ),
    sc AS (
      SELECT p.u, p.x,
             CAST(floor(round(list_cosine_similarity(cu.v, cx.v), 6)
                        * 1000000 + 0.5) AS BIGINT) AS cmicro
      FROM pool p JOIN c cu ON p.u = cu.id JOIN c cx ON p.x = cx.id
    ),
    newadj AS (
      SELECT u, x, cmicro FROM (
        SELECT u, x, cmicro, row_number() OVER (
          PARTITION BY u ORDER BY cmicro DESC, x) AS rn FROM sc)
      WHERE rn <= 5
    ),
    oldagg AS (
      SELECT l.u,
             CAST(count(*) AS BIGINT) AS old_degree,
             CAST(sum(CASE WHEN l.x % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS lost_cnt
      FROM live l JOIN affected a ON l.u = a.u GROUP BY l.u
    ),
    newagg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS new_degree,
             CAST(sum(cmicro) AS BIGINT) AS link_micro_sum
      FROM newadj GROUP BY u
    )
    SELECT o.u AS node_id, o.lost_cnt,
           CAST(o.old_degree - o.lost_cnt AS BIGINT) AS kept_cnt,
           CAST(coalesce(n.new_degree, 0) AS BIGINT) AS new_degree,
           CAST(coalesce(n.link_micro_sum, 0) AS BIGINT) AS link_micro_sum
    FROM oldagg o LEFT JOIN newagg n ON o.u = n.u
    """


@register("l134_knn_graph_delete", oracle=_l134_oracle())
def l134_knn_graph_delete(spark, sf_dir):
    """GRAPH-index DELETE consolidation — completing the graph
    family's index lifecycle (build l119, beefier build + serve l133,
    delete HERE) in parity with the IVF family's (build l15, append
    l70, delete l93, serve l108b): vectors with ``vec_id % 23 = 0``
    are deleted from the l119-parameter NN-Descent graph (read from a
    per-(session, sf_dir) persisted store — a production delete
    maintains an EXISTING index; the cold build lands once and the
    bench median measures maintenance, the l133 pattern), and every
    surviving node that pointed at a deleted neighbor patches its
    adjacency from the deleted node's own surviving out-edges — the
    FreshDiskANN consolidation rule (u→d→x closure), re-ranked
    exactly to top-5 on integer micro-cosines. Per affected node the
    report carries lost/kept/new degree and the integer sum of new
    link micro-cosines — the link-quality evidence that patched lists
    stay near-neighbor lists (planted-cluster quality asserted in
    tests/test_similarity.py). Deterministic end-to-end, so the
    DuckDB oracle replays graph, patch, re-rank, and aggregates
    exactly (the graph CTE comes from the SAME generator as
    l119/l133's — engine and oracle stay in lockstep). Scale: the
    consolidation never rebuilds — candidates ≤ k(k+1) per affected
    node, all id-keyed equi-joins (Θ(|affected|·k²) score pairs on
    top of the attested l119 build; see
    operators/similarity.py::knn_graph_delete_consolidate)."""
    valid = _knn_valid(spark, sf_dir)
    g = _knn_graph(spark, sf_dir, "l134_graph").edges
    deleted = valid.filter(F.col("vec_id") % 23 == 0).select(
        F.col("vec_id").alias("id")
    )
    adj = S.knn_graph_delete_consolidate(
        g, valid, deleted, k=5, dim=_KNN_DIM
    )
    live = g.filter(F.col("query_id") % 23 != 0).select(
        F.col("query_id").alias("u"), F.col("neighbor_id").alias("x")
    )
    oldagg = (
        live.groupBy("u")
        .agg(
            F.count("*").alias("old_degree"),
            F.sum((F.col("x") % 23 == 0).cast("long")).alias("lost_cnt"),
        )
        .filter(F.col("lost_cnt") >= 1)
    )
    newagg = adj.groupBy("u").agg(
        F.count("*").alias("new_degree"),
        F.sum("cmicro").alias("link_micro_sum"),
    )
    return oldagg.join(newagg, "u", "left").select(
        F.col("u").alias("node_id"),
        "lost_cnt",
        (F.col("old_degree") - F.col("lost_cnt")).alias("kept_cnt"),
        F.coalesce("new_degree", F.lit(0).cast("long")).alias("new_degree"),
        F.coalesce("link_micro_sum", F.lit(0).cast("long"))
        .alias("link_micro_sum"),
    )


def _l135_oracle() -> str:
    """Replay: the BASE graph CTE is the shared NN-Descent generator
    at l119 parameters with the base predicate pushed into its corpus
    CTE (c_where); the insert probe reuses the SAME bucket/np SQL
    fragments (_nndescent_bucket_parts) the generator builds from, so
    build and probe stay in lockstep. Seeds, hop expansion, exact
    re-rank, and the reverse patch are joins + window ranks on
    integer micro-cosines; all sums integer (order-free). The outer
    nps/eb CTEs recompute what the nested graph CTE derived
    internally — duplicated compute, identical values (CTE scopes
    don't cross the subquery boundary)."""
    bucket_exprs, np_case = _nndescent_bucket_parts()
    base_graph = _nndescent_oracle_sql(
        k=5, rounds=1, c_where=" AND (vec_id % 23) <> 0"
    )
    return f"""
    WITH graph AS MATERIALIZED ({base_graph}),
    call AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cbase AS (SELECT id, v FROM call WHERE id % 23 <> 0),
    cdelta AS (SELECT id, v FROM call WHERE id % 23 = 0),
    nps AS (SELECT CASE {np_case} ELSE 16 END AS np
            FROM (SELECT count(*) AS cnt FROM cbase)),
    ebr AS (SELECT id, unnest([{bucket_exprs}]) AS bucket FROM cbase, nps),
    eb AS (
      SELECT id, bucket FROM ebr
      QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id) <= 64
    ),
    ed AS (SELECT id, unnest([{bucket_exprs}]) AS bucket FROM cdelta, nps),
    seeds AS (
      SELECT DISTINCT d.id AS did, b.id AS sid
      FROM ed d JOIN eb b USING (bucket)
    ),
    hop AS (SELECT s.did, g.neighbor_id AS x
            FROM seeds s JOIN graph g ON g.query_id = s.sid),
    cand AS (
      SELECT DISTINCT did, x FROM (
        SELECT did, sid AS x FROM seeds UNION ALL SELECT did, x FROM hop)
    ),
    sc AS (
      SELECT cand.did, cand.x,
             CAST(floor(round(list_cosine_similarity(dv.v, bv.v), 6)
                        * 1000000 + 0.5) AS BIGINT) AS cmicro
      FROM cand JOIN cdelta dv ON cand.did = dv.id
                JOIN cbase bv ON cand.x = bv.id
    ),
    ins AS (
      SELECT did, x, cmicro FROM (
        SELECT did, x, cmicro, row_number() OVER (
          PARTITION BY did ORDER BY cmicro DESC, x) AS rn FROM sc)
      WHERE rn <= 5
    ),
    touched AS (SELECT DISTINCT x AS u FROM ins),
    rpool AS (
      SELECT DISTINCT u, y FROM (
        SELECT g.query_id AS u, g.neighbor_id AS y
        FROM graph g JOIN touched t ON g.query_id = t.u
        UNION ALL SELECT x AS u, did AS y FROM ins)
    ),
    rsc AS (
      SELECT r.u, r.y,
             CAST(floor(round(list_cosine_similarity(uv.v, yv.v), 6)
                        * 1000000 + 0.5) AS BIGINT) AS cmicro
      FROM rpool r JOIN cbase uv ON r.u = uv.id
                   JOIN call yv ON r.y = yv.id
    ),
    radj AS (
      SELECT u, y, cmicro FROM (
        SELECT u, y, cmicro, row_number() OVER (
          PARTITION BY u ORDER BY cmicro DESC, y) AS rn FROM rsc)
      WHERE rn <= 5
    ),
    outagg AS (SELECT did, CAST(count(*) AS BIGINT) AS out_degree,
                      CAST(sum(cmicro) AS BIGINT) AS link_micro_sum
               FROM ins GROUP BY did),
    revagg AS (SELECT y AS did, CAST(count(*) AS BIGINT) AS rev_links
               FROM radj WHERE y % 23 = 0 GROUP BY y)
    SELECT d.id AS node_id,
           CAST(coalesce(o.out_degree, 0) AS BIGINT) AS out_degree,
           CAST(coalesce(o.link_micro_sum, 0) AS BIGINT) AS link_micro_sum,
           CAST(coalesce(r.rev_links, 0) AS BIGINT) AS rev_links
    FROM cdelta d LEFT JOIN outagg o ON d.id = o.did
                  LEFT JOIN revagg r ON d.id = r.did
    """


@register("l135_knn_graph_append", oracle=_l135_oracle())
def l135_knn_graph_append(spark, sf_dir):
    """GRAPH-index APPEND — the last missing lifecycle verb for the
    graph-ANN family (build l119/l133, serve l133, delete l134,
    append HERE), mirroring the IVF family's l70 append-parity:
    vectors with ``vec_id % 23 = 0`` arrive as a delta batch against
    the NN-Descent graph built on everything else (read from the
    per-(session, sf_dir) persisted base-graph store it shares with
    st35 — append maintains an existing index). Each new vector
    finds entry points through the SAME capped sign-LSH tables the
    build used (delta-vs-base bucket equi-join), expands one hop over
    the existing graph, exact-re-ranks to its top-5 out-edges, and
    the touched base nodes re-rank their adjacency with the
    newcomers in the pool (the DiskANN insert + reverse-patch rule)
    — so the report's ``rev_links`` column is the committed evidence
    inserted vectors become REACHABLE, not just present. Per delta
    node: out_degree, integer link micro-cosine sum, rev_links.
    Deterministic end-to-end; the oracle replays base graph (shared
    generator, base predicate pushed into its corpus CTE), probe,
    re-rank, and patch exactly. Scale: probe ≤ |delta|·L·cap rows at
    ANY skew, hop ×k, reverse patch ≤ |delta|·k nodes × (k+1)
    candidates — Θ(|delta|), never the corpus (see
    operators/similarity.py::knn_graph_insert)."""
    valid = _knn_valid(spark, sf_dir)
    base = valid.filter(_L135_BASE)
    delta = valid.filter(F.col("vec_id") % 23 == 0)
    g = _knn_graph(spark, sf_dir, "l135_graph", where=_L135_BASE)
    inserted, patched = S.knn_graph_insert(
        g.edges, base, delta, k=5, n_planes=g.n_planes, n_tables=4,
        dim=_KNN_DIM, bucket_cap=64,
    )
    outagg = inserted.groupBy("did").agg(
        F.count("*").alias("out_degree"),
        F.sum("cmicro").alias("link_micro_sum"),
    )
    revagg = (
        patched.filter(F.col("y") % 23 == 0)
        .groupBy("y")
        .agg(F.count("*").alias("rev_links"))
    )
    ids = delta.select(F.col("vec_id").alias("node_id"))
    zero = F.lit(0).cast("long")
    return (
        ids.join(outagg, ids.node_id == outagg.did, "left")
        .join(revagg, ids.node_id == revagg.y, "left")
        .select(
            "node_id",
            F.coalesce("out_degree", zero).alias("out_degree"),
            F.coalesce("link_micro_sum", zero).alias("link_micro_sum"),
            F.coalesce("rev_links", zero).alias("rev_links"),
        )
    )


def _l136_oracle() -> str:
    """Replay: BOTH layers come from the shared NN-Descent generator
    (full corpus = l134's graph CTE; upper layer = the same generator
    with the 1/16 sample predicate pushed into its corpus CTE). The
    3-step beam-2 descent is unrolled — each step CTE keeps, per
    query, the top-2 micro-cosine nodes over (current beam ∪ its
    undirected upper-layer neighbors), MATERIALIZED because the next
    step references it twice (the self and expansion branches). The
    base-layer 2-hop expansion, re-rank, and exact audit mirror
    l133's serve tail with the landing node as the seed and the
    query EXCLUDED from candidates (external-query semantics)."""
    gfull = _nndescent_oracle_sql(k=5, rounds=1)
    gl1 = _nndescent_oracle_sql(
        k=5, rounds=1, c_where=" AND (vec_id % 16) = 0"
    )
    micro = (
        "CAST(floor(round(list_cosine_similarity({a}, {b}), 6)"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    steps = []
    for r in (1, 2, 3):
        qb = micro.format(a="q.qv", b="cv.v")
        steps.append(f"""
    c{r} AS (
      SELECT s.query_id, s.node AS y FROM s{r - 1} s
      UNION
      SELECT s.query_id, u.b FROM s{r - 1} s JOIN u1 u ON u.a = s.node
    ),
    sc{r} AS (
      SELECT cr.query_id, cr.y, {qb} AS cmicro
      FROM c{r} cr JOIN q ON q.query_id = cr.query_id
                   JOIN c cv ON cv.id = cr.y
    ),
    s{r} AS MATERIALIZED (
      SELECT query_id, y AS node FROM (
        SELECT query_id, y, row_number() OVER (
          PARTITION BY query_id ORDER BY cmicro DESC, y) AS rn
        FROM sc{r})
      WHERE rn <= 2
    )""")
    steps_sql = ",".join(steps)
    return f"""
    WITH gfull AS MATERIALIZED ({gfull}),
    gl1 AS MATERIALIZED ({gl1}),
    c AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    q AS (SELECT id AS query_id, v AS qv FROM c
          WHERE id % 37 = 0 AND id < 2048),
    u1 AS (SELECT query_id AS a, neighbor_id AS b FROM gl1
           UNION SELECT neighbor_id, query_id FROM gl1),
    entry AS (SELECT id AS node FROM c WHERE id % 16 = 0
              QUALIFY row_number() OVER (ORDER BY id) <= 4),
    s0 AS (SELECT q.query_id, e.node FROM q, entry e),{steps_sql},
    uf AS (SELECT query_id AS a, neighbor_id AS b FROM gfull
           UNION SELECT neighbor_id, query_id FROM gfull),
    h1 AS (
      SELECT s.query_id, s.node AS x FROM s3 s
      UNION
      SELECT s.query_id, u.b FROM s3 s JOIN uf u ON u.a = s.node
    ),
    h2 AS (SELECT h.query_id, u.b AS x FROM h1 h JOIN uf u ON u.a = h.x),
    cand AS (
      SELECT DISTINCT query_id, x FROM (
        SELECT query_id, x FROM h1 UNION ALL SELECT query_id, x FROM h2)
      WHERE x <> query_id
    ),
    scf AS (
      SELECT cand.query_id, cand.x AS neighbor_id,
             {micro.format(a="q.qv", b="cv.v")} AS cmicro
      FROM cand JOIN q ON q.query_id = cand.query_id
                JOIN c cv ON cv.id = cand.x
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cmicro,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cmicro DESC, neighbor_id) AS rn
      FROM scf
    ),
    exact AS (
      SELECT q.query_id, e.id AS neighbor_id
      FROM q JOIN c e ON e.id <> q.query_id
      QUALIFY row_number() OVER (PARTITION BY q.query_id
        ORDER BY {micro.format(a="q.qv", b="e.v")} DESC, e.id) <= 5
    )
    SELECT r.query_id AS query_id, r.neighbor_id AS neighbor_id,
           r.cmicro AS cmicro, CAST(r.rn AS INTEGER) AS rank,
           CAST(CASE WHEN x.neighbor_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
             AS in_exact_top5
    FROM ranked r LEFT JOIN exact x
      ON x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id
    WHERE r.rn <= 5
    """


@register("l136_knn_graph_route_serve", oracle=_l136_oracle())
def l136_knn_graph_route_serve(spark, sf_dir):
    """ROUTED graph-ANN serving for EXTERNAL queries — the HNSW/
    DiskANN serve shape l133 stops short of: l133's 2-hop serve seeds
    from the query's OWN adjacency (the query must be a graph node);
    here the query arrives with no edges and is routed in — a greedy
    3-step descent over an UPPER-LAYER graph (l119-parameter
    NN-Descent on the deterministic 1/16 node sample, persisted in
    its own session store slot, its entry points in another) from the 4
    smallest-id entry points at BEAM WIDTH 2, each step keeping the
    top-2 nodes by rounded cosine (the oracle's micro-cosine order)
    over (current beam ∪ its undirected neighbors) — measured
    overlap@5 at sf0.01: 0.14 single-entry greedy → 0.30 at (4
    entries, beam 2), with (8, 3) only reaching 0.34 (the
    diminishing-returns knee; every knob is a mirrored engine+oracle
    constant); the landing beam seeds l133's serve kernel
    (``similarity.graph_serve_topk``: base-layer 2-hop expansion +
    exact re-rank, query excluded from candidates), with the
    committed ``in_exact_top5`` audit. Serve cost per query:
    3·beam·(2k+1) routing scores + ≤ beam·(2k+(2k)²) expansion
    candidates — INDEPENDENT of corpus size (the logarithmic-layers premise,
    flattened to one upper layer at these SFs). Deterministic
    end-to-end: both layer graphs come from the shared NN-Descent
    generator (full layer = l134's store, upper layer from the 1/16
    predicate pushed into the generator's corpus CTE), the descent
    unrolls to 3 argmax CTEs, so the DuckDB oracle replays routing,
    expansion, re-rank, and audit exactly."""
    c, q = _knn_corpus(spark, sf_dir)
    top = _knn_graph(spark, sf_dir, "l136_l1", where=_L136_UPPER)
    entries = get_or_build(
        spark, "l136_entries", sf_dir,
        lambda: [
            int(r.vec_id)
            for r in collect_bounded(
                _knn_valid(spark, sf_dir).filter(_L136_UPPER)
                .select("vec_id").orderBy("vec_id").limit(4),
                4,
                "l136 entry points",
            )
        ],
    )
    cy = c.select(
        F.col("id").alias("y"), F.col("v").alias("vy"),
        F.col("nv").alias("ny"),
    )
    nbr = top.adj.select(F.col("a").alias("node"), F.col("b").alias("y"))
    cos = F.round(
        F.try_divide(S.dot("qv", "vy", _KNN_DIM), F.col("nq") * F.col("ny")),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("y"))
    cur = q.select("query_id").withColumn(
        "node",
        F.explode(F.array(*[F.lit(e).cast("long") for e in entries])),
    )
    for _ in range(3):
        cands = (
            cur.select("query_id", F.col("node").alias("y"))
            .unionByName(cur.join(nbr, "node").select("query_id", "y"))
            .distinct()
        )
        cur = (
            cands.join(cy, "y")
            .join(q, "query_id")
            .select("query_id", "y", cos.alias("cosine"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select("query_id", F.col("y").alias("node"))
            .transform(cut_lineage)  # consumed 2x by the next step
        )
    full = _knn_graph(spark, sf_dir, "l134_graph")
    return S.graph_serve_topk(cur, full.adj, c, q, k=5, dim=_KNN_DIM).select(
        "query_id",
        "neighbor_id",
        # the integer micro-cosine: same order as the rounded cosine
        F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("cmicro"),
        "rank",
        "in_exact_top5",
    )
