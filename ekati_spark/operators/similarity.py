"""Similarity search over embedding columns (array<float>).

- ``cosine``           built-in-HOF cosine similarity (zip_with + aggregate)
- ``brute_force_topk`` exact top-k: query set ⋈ corpus (broadcast the
                       queries), per-query window rank — the correctness
                       baseline, cost O(|Q|·n).
- ``ann_lsh_buckets``  random-hyperplane (sign) LSH bucketing — the scale
                       path: queries only compare within matching buckets.
                       Hyperplanes are generated from a fixed seed on the
                       driver and folded into the plan as literals (no RNG
                       on executors, fully deterministic).

At 100 TB: brute force distributes fine for small query sets (broadcast
queries, no shuffle of the corpus); LSH turns all-pairs problems into
per-bucket problems with shuffle ∝ corpus size, not corpus².
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from ekati_spark.checkpoint import cut_lineage, cut_lineage_lazy
from ekati_spark.driverside import collect_bounded, local_rows_df


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """a · b. With ``dim``, an unrolled element_at sum that stays in
    whole-stage codegen (the zip_with/aggregate lambdas are interpreted
    row-at-a-time — ~100x slower in pair-join hot paths). Only pass
    ``dim`` for MATERIALIZED array columns (scan/shuffle output): over a
    lambda-HOF expression each element_at would re-evaluate the lambda.
    Both forms accumulate left-to-right in double, so results are
    bit-identical to each other and to the DuckDB oracles.

    Pass COLUMN NAMES (str) with ``dim`` where possible: the unrolled
    fold is then parsed JVM-side from one SQL string — one py4j round
    trip instead of ~6·dim Column-API calls. Building l127b's plan
    spent 4.5 s of DRIVER wall in those socket round-trips (13k
    send_commands; guide §7.3 planning-side cost); the parsed tree is
    the identical left-fold, so plans and results are unchanged."""
    if dim:
        if _is_plain_ident(a) and _is_plain_ident(b):
            return F.expr(_dot_sql(a, b, dim))
        a, b = _as_col(a), _as_col(b)
        return _fold_sum(
            _el(a, k) * _el(b, k) for k in range(1, dim + 1)
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _is_plain_ident(a) -> bool:
    """The SQL fast path is only safe for plain identifiers: a name
    needing quoting (space, hyphen, leading digit) fails F.expr's
    parse, and a DOTTED name would parse as a struct-field/alias
    reference where F.col resolved a column — route those through the
    Column fold instead (identical tree, just built via the API)."""
    import re  # noqa: PLC0415

    return isinstance(a, str) and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", a)


def _as_col(a: Column | str) -> Column:
    return F.col(a) if isinstance(a, str) else a


def _dot_sql(a: str, b: str, dim: int) -> str:
    """The unrolled left-fold dot as ONE SQL string (identical tree to
    the Column-API fold: left-assoc `+` over cast-double products).
    Identifiers are backtick-quoted — callers gate on plain identifiers
    (``_is_plain_ident``), and the quoting additionally keeps a name
    that collides with a SQL keyword parseable."""
    if not dim:
        return "CAST(0.0 AS DOUBLE)"
    return " + ".join(
        f"CAST(element_at(`{a}`, {k}) AS DOUBLE)"
        f" * CAST(element_at(`{b}`, {k}) AS DOUBLE)"
        for k in range(1, dim + 1)
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    if dim:
        if _is_plain_ident(a):
            return F.expr(f"sqrt({_dot_sql(a, a, dim)})")
        a = _as_col(a)
        return F.sqrt(
            _fold_sum(_el(a, k) * _el(a, k) for k in range(1, dim + 1))
        )
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO abort) when either vector has
    zero norm; null scores drop out of every threshold/top-k filter."""
    return F.try_divide(dot(a, b, dim), norm(a, dim) * norm(b, dim))


def _pair_dot_udf():
    """Arrow pair-dot: the vectorized twin of ``dot`` for PAIR-SCORING
    hot paths (per-dim SEQUENTIAL left-fold in float64 — bit-identical
    to both the unrolled element_at fold and the zip_with/aggregate
    fold, which also accumulate left-to-right in double). A scalar
    Arrow UDF can never be pushed into a join condition, so scoring
    stays out of BNLJ/BHJ condition evaluation by construction, and
    the batch fold runs in numpy instead of per-row JVM expression
    trees (measured on the l119 init score, 183k pairs at sf0.1:
    2.8 s unrolled-JVM → 0.6 s Arrow; on l45b's candidate scoring the
    interpreted zip_with fold it replaced additionally DEGRADED 3-10×
    with JVM age — 10-12 s of executor time for the same stage a fresh
    JVM runs in ~2 s — where the numpy fold is age-stable). Shared by
    ``_score_pairs_join`` and ``bitext_margin_ann``."""

    @F.pandas_udf("double")
    def pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(A))
        for d in range(A.shape[1]):  # sequential per-dim left-fold
            acc += A[:, d] * B[:, d]
        return pd.Series(acc)

    return pair_dot


def _el(a: Column, k: int) -> Column:
    return F.element_at(a, k).cast("double")


def _fold_sum(terms) -> Column:
    out = None
    for t in terms:
        out = t if out is None else out + t
    # dim=0 (empty corpus / degenerate inference) folds zero terms — an
    # empty sum, not a None column
    return F.lit(0.0) if out is None else out


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality, read from the data: the max size over a
    null-skipping sample row set would still be one arbitrary row's dim,
    so take the modal contract instead — the first NON-NULL vector's
    size (one small job). 0 for an empty / all-null column."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return int(row.d) if row and row.d is not None else 0


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query (excluding self-matches by id).

    Returns (query_id, neighbor_id, cosine, rank). Scores are rounded to
    6 decimals before ranking so ordering is reproducible across engines;
    rank ties break by neighbor id.
    """
    # zip_with dot + PRE-JOIN norms: the non-equi query⋈corpus join plans
    # as BroadcastNestedLoopJoin, whose surrounding expressions evaluate
    # interpreted — there an unrolled element_at tree is ~4x SLOWER than
    # the zip_with loop, and precomputing per-vector norms (one codegen'd
    # scan-side projection) leaves only the dot per pair
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("nv", norm(F.col("v")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(query_vec_col)).alias("qv"),
    ).withColumn("nq", norm(F.col("qv")))
    cos = F.try_divide(
        dot(F.col("qv"), F.col("v")), F.col("nq") * F.col("nv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-``k`` most cosine-similar corpus vectors with a DIFFERENT label
    (the near-miss negatives that matter for metric learning).

    Same plan as ``brute_force_topk`` — pre-joined norms, broadcast
    queries, scoring outside any join condition, 6-decimal rounding
    before the deterministic rank — plus the label-mismatch predicate,
    which rides on the broadcast join (a cheap comparison, not a scored
    expression). Scale path: restrict the corpus side per query via LSH
    or IVF buckets first (ann_lsh_buckets / ann_ivf), then re-rank
    negatives exactly.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("nv", norm(F.col("v")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_label_col).alias("query_label"),
        _as_double(F.col(query_vec_col)).alias("qv"),
    ).withColumn("nq", norm(F.col("qv")))
    cos = F.try_divide(
        dot(F.col("qv"), F.col("v")), F.col("nq") * F.col("nv")
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (driver-side)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _sign_lsh_bucket_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Multi-table sign-LSH bucket assignment as ONE vectorized Arrow
    UDF returning ``array<long>`` (one bucket per table, table index in
    the high bits). The literal-expression form (48 zip_with dots per
    row) is interpreted and was ~10x slower; an unrolled form is a
    ~9000-node projection that stalls Catalyst analysis. Plane dots
    accumulate PER-DIM in index order (not einsum/BLAS pairwise): the
    same left-fold an engine's sequential list_dot_product computes, so
    bucket assignment is bit-deterministic and a DuckDB oracle (l07,
    l05b, l45b) replays it exactly — a sign is only ever "wrong" if the
    doubles themselves differ."""
    P = np.stack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (n_tables, n_planes, dim)
    offs = (np.arange(n_tables, dtype=np.int64) << 32)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_ids(vs: pd.Series) -> pd.Series:
        A = np.stack(vs.to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((len(A), P.shape[0], P.shape[1]))
        for d in range(P.shape[2]):  # sequential per-dim left-fold
            acc += A[:, d, None, None] * P[:, :, d]
        ids = ((acc > 0) * weights).sum(axis=2) + offs
        return pd.Series(list(ids))

    return bucket_ids


def _lsh_bucket_members(
    emb: DataFrame,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
    id_col: str,
    vec_col: str,
    bucket_cap: int | None,
):
    """The bucket-assignment stage shared by ``lsh_candidate_ids``
    (self-join candidates) and ``knn_graph_insert`` (delta-vs-base
    probe): returns ``(members, vectors)`` where members is the
    exploded ``(id, bucket)`` frame — per-(table, bucket) capped to
    the ``bucket_cap`` SMALLEST ids when a cap is given (the
    deterministic occupancy bound, replayed in SQL as a QUALIFY) —
    and vectors is the filtered ``(id, v, nv)`` frame."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    v = emb.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(vec_col, dim).alias("nv"),
    ).transform(cut_lineage_lazy)  # consumed 3x: buckets + 2 id joins
    bucket_ids = _sign_lsh_bucket_udf(dim, n_planes, n_tables, seed)
    e = v.select("id", F.explode(bucket_ids("v")).alias("bucket"))
    if bucket_cap is not None:
        # deterministic per-bucket membership cap: keep the bucket_cap
        # smallest ids (bucket already encodes the table in high bits)
        wcap = W.partitionBy("bucket").orderBy("id")
        e = (
            e.withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    return e, v


def lsh_candidate_ids(
    emb: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
):
    """Sign-LSH SELF-candidate pairs: two vectors are a candidate pair
    iff they share a bucket in any of ``n_tables`` hash tables. Returns
    ``(candidates, vectors)`` where candidates is distinct ``(id_a,
    id_b)`` with ``id_a < id_b`` — no vector payloads — and vectors is
    the filtered ``(id, v, nv)`` frame candidates were derived from.
    Scorers choose their own fetch strategy (per-pair join vs
    broadcast gather).

    Scale shape: each vector emits ``n_tables`` (bucket, row) copies —
    a projection, no shuffle — and the pair relation is an EQUI-join on
    bucket, so only same-bucket rows ever meet (shuffle ∝ n·L, output ∝
    Σ bucket²). The candidate relation stays NARROW through the bucket
    join and the distinct (measured 3×: carrying two 64-float payloads
    through the pair-dedup shuffle cost 72 s where the narrow form
    costs ~12 s at sf1). Recall follows the standard amplifier
    1-(1-p^b)^L; the op is DETERMINISTIC (seeded planes, left-fold
    dots), so a SQL oracle replays the exact candidate set.

    ``bucket_cap`` (opt-in; default None = every member, the attested
    l07/l53 semantics) deterministically caps per-(table, bucket)
    membership to the ``bucket_cap`` SMALLEST ids before the self-join
    — the ``_CP_HUB_CAP`` pattern from g30. With a cap, pair volume is
    Σ min(b, cap)² ≤ cap · n · L — LINEAR in n no matter how skewed
    the buckets: plane count controls EXPECTED occupancy but is
    helpless against duplicate pile-ups (a verbatim-replica corpus
    concentrates one bucket arbitrarily deep at any np) and saturates
    at np=16 ≈ 1M vectors. The cap is the hard bound; order-by-id
    makes it a pure function of the data, replayable in a SQL QUALIFY.
    The window shuffle it adds is by bucket and row-count linear
    (row_number is a streaming pass per bucket)."""
    e, v = _lsh_bucket_members(
        emb, n_planes, n_tables, seed, dim, id_col, vec_col, bucket_cap
    )
    # round-robin repartition of the STREAMED side: the corpus often
    # scans as a handful of partitions (one small parquet file locally),
    # and a broadcast join inherits the streamed side's partitioning —
    # without this the whole Σ bucket² pair explosion runs on one core
    # (measured: candidate job 13.3 s -> 2.9 s at sf1). Round-robin (not
    # by bucket) deliberately: BHJ needs no co-location and hot buckets
    # (duplicate-heavy corpora) would skew a bucket-hash layout.
    par = emb.sparkSession.sparkContext.defaultParallelism
    cand = (
        e.repartition(par)
        .select(F.col("id").alias("id_a"), "bucket")
        .join(e.select(F.col("id").alias("id_b"), "bucket"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return cand, v


def embedding_dup_pairs_ann(
    emb: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs over LSH candidates — the
    sub-quadratic twin of ``dedup.embedding_dup_pairs`` (which scores
    ALL pairs through the block-grid): identical cosine scoring and
    threshold, restricted to the LSH candidate set. At 100 TB this is
    the shape you actually run — candidate generation shuffles n·L
    rows, scoring touches only same-bucket pairs. Cosines round to 6
    decimals (the cross-engine contract), so results hash-match a SQL
    replay of buckets + scoring; pairs the LSH misses are ABSENT BY
    DEFINITION (recall audited separately, l55-style).

    Pair vectors reach the scorer one of two ways, picked by size:
    corpora of ≤ 8M floats (~64 MB as float64, comfortably an
    executor-memory dimension; the count is one cheap job over the
    filtered frame) broadcast the whole filtered vector table and keep
    the pairs NARROW (two longs; ``_score_pairs_broadcast``); larger
    ones attach (v, nv) to every pair with two id equi-joins, a
    shuffle ∝ |pairs| × vector width (``_score_pairs_join``, the
    100-TB path: the corpus never fits one executor). On
    duplicate-heavy candidate sets the join re-sends each vector once
    per pair (measured 7.3M candidate pairs × two 64-float payloads ≈
    7.5 GB through Arrow at sf1); the broadcast moves 16 bytes/pair +
    the corpus once per executor (sf1: 6.6 s → 2.4 s median).

    Both paths run the SAME float ops in the SAME order (per-dim
    sequential left-fold dot, norm product, one divide), so their
    results are bit-identical — asserted in tests."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    cand, v = lsh_candidate_ids(
        emb, n_planes, n_tables, seed, dim, id_col, vec_col
    )
    if v.count() * dim <= 8_000_000:
        scored = _score_pairs_broadcast(cand, v, dim)
    else:
        scored = _score_pairs_join(cand, v)
    return (
        scored.withColumn("cosine", F.round("cos_raw", 6))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )


def _score_pairs_join(cand: DataFrame, v: DataFrame) -> DataFrame:
    """Per-pair vector fetch via two id joins + Arrow dot. Scoring MUST
    be opaque to Catalyst here: a JVM dot expression lets the threshold
    filter (which references both vector-join sides) be pushed INTO the
    join condition, where BHJ evaluates the unrolled 64-term dot
    INTERPRETED per probe — and then again in the output projection
    (measured 32.6 s vs 5.6 s at sf1; the nondeterministic-conjunct
    barrier does not survive Spark 4's conjunct split). A scalar Arrow
    UDF can never enter a join condition — it always evaluates in its
    own ArrowEvalPython node above the join. Per-dim sequential
    left-fold in float64 keeps results bit-identical to the SQL fold
    (the block-grid's rule); divide/round/filter stay JVM-side so
    null/rounding semantics match the exact twin. Plan-asserted in
    tests."""
    pairs = (
        cand.join(
            v.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nv").alias("na"),
            ),
            "id_a",
        ).join(
            v.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nv").alias("nb"),
            ),
            "id_b",
        )
    )

    pair_dot = _pair_dot_udf()

    return pairs.select(
        "id_a",
        "id_b",
        F.try_divide(
            pair_dot("va", "vb"), F.col("na") * F.col("nb")
        ).alias("cos_raw"),
    )


def _score_pairs_broadcast(
    cand: DataFrame, v: DataFrame, dim: int
) -> DataFrame:
    """Broadcast-gather scorer: collect the filtered vector table once,
    broadcast it, and score NARROW (id_a, id_b) pairs by gathering rows
    executor-side — no vector payloads ride the pair relation. Float-op
    parity with ``_score_pairs_join``: norms are recomputed here with
    the same per-dim sequential fold + sqrt the JVM ``norm`` unrolls
    (exact float32→float64 widening, identical IEEE sequence), the
    denominator is the same single product, and the divide happens once
    per pair; zero denominators yield NULL exactly like try_divide."""
    rows = collect_bounded(
        v.select("id", "v"), 2_000_000, "broadcast-gather vector table"
    )
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    nrm = np.zeros(len(ids))
    for d in range(dim):  # same sequential fold as norm(col, dim)
        nrm += mat[:, d] * mat[:, d]
    nrm = np.sqrt(nrm)
    bc = cand.sparkSession.sparkContext.broadcast((ids, mat, nrm))

    # try_divide parity: the join path turns a ZERO denominator into
    # NULL, which the threshold filter then drops — drop those pairs up
    # front instead (zero-norm vectors are rare; the anti-join side is
    # an aggregated near-empty broadcast). Every other input — NaN
    # components included — flows through the same IEEE ops as the join
    # path and produces the identical double.
    zero = v.filter(F.col("nv") == 0.0).select(F.col("id"))
    cand = cand.join(
        zero.select(F.col("id").alias("id_a")), "id_a", "left_anti"
    ).join(zero.select(F.col("id").alias("id_b")), "id_b", "left_anti")

    @F.pandas_udf("double")
    def pair_cos(id_a: pd.Series, id_b: pd.Series) -> pd.Series:
        b_ids, b_mat, b_nrm = bc.value
        pa = np.searchsorted(b_ids, id_a.to_numpy())
        pb = np.searchsorted(b_ids, id_b.to_numpy())
        A, B = b_mat[pa], b_mat[pb]
        acc = np.zeros(len(A))
        for d in range(A.shape[1]):  # sequential per-dim left-fold
            acc += A[:, d] * B[:, d]
        return pd.Series(acc / (b_nrm[pa] * b_nrm[pb]))

    return cand.select(
        "id_a", "id_b", pair_cos("id_a", "id_b").alias("cos_raw")
    )


def ann_lsh_buckets(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: ``n_tables`` independent
    hash tables of ``n_planes`` hyperplanes each; a corpus vector is a
    candidate if it shares a bucket with the query in *any* table (the
    standard recall amplifier: recall = 1-(1-p^b)^L). Candidates dedup
    before scoring, so each pair is scored once.

    Recall < 1 by construction; tested against ``brute_force_topk``.
    At scale: corpus is bucketed once per table (a projection, no
    shuffle); candidate generation shuffles only bucket-matched rows.
    """
    if dim is None:
        # read the true dimension from the data: a mismatched dim makes
        # zip_with null-pad, every dot product NULL, and all vectors land
        # in one bucket — silently degenerating LSH to a cross join
        dim = _infer_dim(corpus, vec_col)
    # NULL / off-dimension vectors would abort np.stack (bucket UDF) and
    # ANSI element_at (unrolled norm); the old lambda path scored them
    # NULL and dropped them — filter up front for the same outcome
    c = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("v"),
        norm(vec_col, dim).alias("nv"),
    )
    q = queries.filter(
        F.col(query_vec_col).isNotNull()
        & (F.size(F.col(query_vec_col)) == dim)
    ).select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        norm(query_vec_col, dim).alias("nq"),
    )
    bucket_ids = _sign_lsh_bucket_udf(dim, n_planes, n_tables, seed)
    ce = c.withColumn("c_bucket", F.explode(bucket_ids("v")))
    qe = q.withColumn("q_bucket", F.explode(bucket_ids("qv")))
    cand = (
        ce.join(
            F.broadcast(qe),
            (F.col("c_bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "qv", "nq", "neighbor_id", "v", "nv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = F.try_divide(
        dot("qv", "v", dim), F.col("nq") * F.col("nv")
    )
    scored = cand.withColumn("cosine", F.round(cos, 6)).select(
        "query_id", "neighbor_id", "cosine"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019): score a
    candidate translation pair by its cosine *relative to* the average
    cosine of each side's k nearest neighbors —
    ``margin(x,y) = cos(x,y) / ((avgTopK(x→T) + avgTopK(y→S)) / 2)`` —
    which cancels the hubness that makes raw cosine thresholds useless
    for cross-lingual alignment mining. Emits each source vector's
    best-margin target when that margin clears ``margin_threshold``.

    Determinism contract: cosines are rounded to 6 decimals first (the
    l06 cross-engine precedent), the two top-k sums accumulate those
    rounded values in DECIMAL (exact, order-free), and the denominator
    ``(sum_x + sum_y) / (2k)`` is a single correctly-rounded double
    division — so margins are bit-identical across engines and the
    per-source argmax is reproducible (ties break by target id).

    Scale shape: this is the exact all-pairs formulation — |S|·|T| dots
    with the smaller side broadcast, then two pair-sized window ranks
    (one shuffle each on src/tgt id). At 100 TB you don't run all-pairs:
    ``bitext_margin_ann`` restricts candidates to sign-LSH buckets first
    and applies the same margin formula (``margin_from_scored_pairs``,
    whose top-k windows only ever see the supplied candidate pairs).
    """
    s = src.select(
        F.col(id_col).alias("src_id"), _as_double(F.col(vec_col)).alias("sv")
    ).withColumn("ns", norm(F.col("sv")))
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), _as_double(F.col(vec_col)).alias("tv")
    ).withColumn("nt", norm(F.col("tv")))
    cos = F.try_divide(
        dot(F.col("sv"), F.col("tv")), F.col("ns") * F.col("nt")
    )
    pairs = (
        s.crossJoin(F.broadcast(t))
        .withColumn("cosine", F.round(cos, 6))
        .select("src_id", "tgt_id", "cosine")
    )
    return margin_from_scored_pairs(pairs, k, margin_threshold)


def margin_from_scored_pairs(
    pairs: DataFrame, k: int = 4, margin_threshold: float = 1.05
) -> DataFrame:
    """Margin scoring over an ARBITRARY scored candidate-pair relation
    ``(src_id, tgt_id, cosine)`` — the second half of
    ``bitext_margin_pairs``, split out so sub-quadratic candidate
    sources (LSH buckets, IVF probes) feed the identical formula: the
    top-k neighborhood sums and the per-source argmax only ever see the
    supplied pairs.

    One window chain, no join back: the target's rank and top-k sum
    over ``tgt_id``, then the source's rank, top-k sum, margin and
    argmax over ``src_id`` — two exchanges, one per key, and every
    intermediate has one consumer, so nothing is cut. The window sums
    accumulate ``decimal(18,6)`` into ``decimal(28,6)``, as the grouped
    sums they replace did, so margins are bit-identical."""
    dec = F.col("cosine").cast("decimal(18,6)")
    wt, ws = W.partitionBy("tgt_id"), W.partitionBy("src_id")
    denom = (F.col("sum_s") + F.col("sum_t")).cast("double") / F.lit(
        float(2 * k)
    )
    return (
        pairs.withColumn(
            "rt", F.row_number().over(wt.orderBy(F.desc("cosine"), "src_id"))
        )
        .withColumn("sum_t", F.sum(F.when(F.col("rt") <= k, dec)).over(wt))
        .withColumn(
            "rs", F.row_number().over(ws.orderBy(F.desc("cosine"), "tgt_id"))
        )
        .withColumn("sum_s", F.sum(F.when(F.col("rs") <= k, dec)).over(ws))
        .withColumn("margin", F.round(F.col("cosine") / denom, 6))
        .withColumn(
            "best", F.row_number().over(ws.orderBy(F.desc("margin"), "tgt_id"))
        )
        .filter(
            (F.col("best") == 1)
            & (F.col("margin") >= F.lit(float(margin_threshold)))
        )
        .select("src_id", "tgt_id", "cosine", "margin")
    )


def bitext_margin_ann(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitext margin mining over sign-LSH candidate pairs — the
    sub-quadratic twin of ``bitext_margin_pairs``: src and tgt vectors
    bucket through the SAME seeded tables, candidates meet on an
    equi-join on bucket (shuffle ∝ (|S|+|T|)·L, never |S|·|T|), and
    ``margin_from_scored_pairs`` applies the identical margin formula
    over the candidate relation. Neighborhood top-k sums are computed
    WITHIN the candidate set (the standard mining practice — Artetxe &
    Schwenk run margins over FAISS candidates); deterministic seeded
    buckets make the whole pipeline SQL-replayable.

    Pair scoring runs through the Arrow ``_pair_dot_udf`` and per-row
    norms through the codegen'd unrolled fold — bit-identical to the
    interpreted zip_with lambdas they replaced (the module's standing
    left-fold contract), but JIT-stable: the interpreted fold's
    executor CPU degraded 3-10× with JVM age inside a long bench
    session (the round-15 l45b driver regression — 10-12 s of executor
    time in the scoring stage a fresh JVM runs in ~2 s).

    The build fires one Spark job, ``_infer_dim``'s, and none when
    ``dim`` is given: the sides' lazy cuts have no shuffle below them
    and the margin kernel is one window chain, so bucketing, scoring
    and margins run in the caller's action."""
    if dim is None:
        dim = _infer_dim(src, vec_col)
    bucket_ids = _sign_lsh_bucket_udf(dim, n_planes, n_tables, seed)

    def side(df, id_name, prefix):
        # consumed twice (bucket explode + vector fetch): cut lineage
        return (
            df.filter(
                F.col(vec_col).isNotNull()
                & (F.size(F.col(vec_col)) == dim)
            )
            .select(
                F.col(id_col).alias(id_name),
                _as_double(F.col(vec_col)).alias(f"{prefix}v"),
            )
            .withColumn(f"n{prefix}", norm(f"{prefix}v", dim))
            .transform(cut_lineage_lazy)
        )

    s, t = side(src, "src_id", "s"), side(tgt, "tgt_id", "t")
    # narrow candidate relation: ids only through the bucket join and
    # the distinct; vectors join back by id (the lsh_candidate_ids
    # doctrine — payloads never ride the pair shuffle)
    sb = s.select(
        "src_id", F.explode(bucket_ids("sv")).alias("bucket")
    )
    tb = t.select(
        "tgt_id", F.explode(bucket_ids("tv")).alias("bucket")
    )
    cand = (
        sb.join(tb, "bucket").select("src_id", "tgt_id").distinct()
    )
    pair_dot = _pair_dot_udf()
    cos = F.try_divide(
        pair_dot("sv", "tv"), F.col("ns") * F.col("nt")
    )
    pairs = (
        cand.join(s, "src_id")
        .join(t, "tgt_id")
        .withColumn("cosine", F.round(cos, 6))
        .select("src_id", "tgt_id", "cosine")
    )
    return margin_from_scored_pairs(pairs, k, margin_threshold)


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — Spark SQL ``div`` and
    DuckDB ``//`` semantics (Python ``//`` floors, which differs on
    negatives)."""
    return s // n if s >= 0 else -((-s) // n)


def _quant_udf(scale: int):
    """Pandas UDF quantizing float vectors to the int64 grid
    (floor(x*scale + 0.5) — the single IEEE op of the integer path)."""
    import numpy as np

    @F.pandas_udf("array<long>")
    def quant(vs: pd.Series) -> pd.Series:
        return vs.map(
            lambda v: np.floor(
                np.asarray(v, dtype=np.float64) * scale + 0.5
            ).astype(np.int64).tolist()
        )

    return quant


def _cent_matrix(cents: dict):
    """``(ids, C, cc)``: the sorted list ids, their int64 centroids as
    a ``k × dim`` matrix and its squared row norms. An empty or
    all-NULL corpus seeds no centroid: ``C`` is then ``0 × 0`` and
    ``cc`` empty, so the distance arithmetic yields no rows instead of
    failing on a 1-d array with no axis 1."""
    ids = sorted(cents)
    C = np.array([cents[i] for i in ids], dtype=np.int64).reshape(
        len(ids), len(cents[ids[0]]) if ids else 0
    )
    return ids, C, (C * C).sum(axis=1)


def _int_assign(frame: DataFrame, cents: dict) -> DataFrame:
    """Assign quantized vectors (``id, qv``) to their nearest centroid
    by exact int64 L2² (ties → smallest list_id, matching the oracle's
    ORDER BY tie-break). Centroids ride the UDF closure (k×dim ints)."""
    ids, C, cc = _cent_matrix(cents)
    schema = "id long, qv array<long>, list_id long"

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + cc[None, :]
            # argmin returns the FIRST minimum -> smallest list_id
            # on ties (ids sorted) — the oracle's ORDER BY tie-break
            li = d.argmin(axis=1)
            out = pdf[["id", "qv"]].copy()
            out["list_id"] = [ids[j] for j in li]
            yield out

    return frame.mapInPandas(op, schema=schema)


def _int_kmeans(
    corpus: DataFrame,
    n_lists: int,
    kmeans_iters: int,
    scale: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
    prepared: DataFrame | None = None,
):
    """Shared integer-deterministic k-means core (l15/l37 oracle path):
    quantize to the int64 grid, seed with the ``n_lists`` smallest ids,
    iterate exact integer Lloyd steps. Returns (assigned DataFrame with
    columns ``id, qv, list_id`` — localCheckpointed, final-centroid
    assignment — and the centroid dict).

    ``prepared`` lets a caller hand in the quantized, lineage-cut
    ``(id, qv)`` frame it already materialized (the l108b self-probe
    counts it for ``auto_n_lists`` — one scan instead of two) and must
    come with ``dim``.

    The final-assignment cut is EAGER. A lazy cut saves one
    driver-sequential job, but its data only becomes reusable after
    the materializing JOB completes, so several consumer branches
    inside one action each recompute the assignment mapInPandas fused
    into their own map stages — measured at sf1, the self-probe's
    scorer stage went 505 s → 1483 s of task time (3×, identical
    shuffle records) for the one job saved."""

    if prepared is not None:
        if dim is None:
            raise ValueError("_int_kmeans: prepared frame requires dim")
        c = prepared
    else:
        if dim is None:
            dim = _infer_dim(corpus, vec_col)
        quant = _quant_udf(scale)
        c = (
            corpus.filter(
                F.col(vec_col).isNotNull()
                & (F.size(F.col(vec_col)) == dim)
            )
            .select(
                F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv")
            )
            .transform(cut_lineage)  # reused per iteration + final assign
        )
    seeds = c.orderBy("id").limit(n_lists).collect()
    cents = {i: list(r["qv"]) for i, r in enumerate(seeds)}

    def update(assigned: DataFrame) -> dict:
        def sums(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                for lid, grp in pdf.groupby("list_id"):
                    M = np.array(grp["qv"].tolist(), dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "list_id": [int(lid)],
                            "s": [M.sum(axis=0).tolist()],
                            "n": [len(grp)],
                        }
                    )

        parts = collect_bounded(
            assigned.mapInPandas(
                sums, schema="list_id long, s array<long>, n long"
            ),
            1_048_576,  # <= n_lists x partitions rows of k x dim scalars
            "int k-means partial sums",
        )
        agg: dict = {}
        for r in parts:
            s0, n0 = agg.get(r["list_id"], ([0] * dim, 0))
            agg[r["list_id"]] = (
                [a + b for a, b in zip(s0, r["s"])],
                n0 + r["n"],
            )
        return {
            lid: [_trunc_div(si, n) for si in s]
            for lid, (s, n) in agg.items()
            if n > 0
        }

    for _ in range(kmeans_iters):
        cents = update(_int_assign(c, cents))
    assigned = _int_assign(c, cents).transform(cut_lineage)
    return assigned, cents


def ivf_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 6,
    kmeans_iters: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k with FULLY DETERMINISTIC INTEGER k-means:
    Lloyd's k-means assigns every corpus vector to its nearest centroid
    list and each query scores only its ``n_probe`` nearest lists'
    candidates. Oracle-replayable: vectors quantize to
    ``floor(x*scale + 0.5)`` int64 grid points (the one float→int op,
    IEEE-identical in any engine), seeds are the ``n_lists`` smallest
    ids' vectors, Lloyd updates are per-dimension integer sums with
    trunc-toward-zero division, and every distance is an exact int64
    L2². No RNG, no float accumulation — a SQL engine replays the
    whole index build bit-for-bit (queries/llm.py::l15's DuckDB
    oracle does). Quantization at scale=1024 costs <0.1% relative
    distance error on unit-range embeddings — irrelevant to ANN
    bucketing quality (recall asserted in tests/test_similarity.py).

    Scale shape: centroids live in UDF closures (k×dim ints — the only
    driver state), assignment and partial sums are single mapInPandas
    passes (int64 matmul per Arrow batch — unrolled argmin literal
    trees stall Catalyst analysis, and crossJoin + ``min_by`` puts the
    distance above a CartesianProduct, where it runs interpreted),
    candidates meet probed lists in one equi-join, and the final top-k
    is a per-query window. At 100 TB the assigned corpus is written
    list-partitioned (``build_ivf_index_int``) so a probe is partition
    pruning. An empty or all-NULL corpus returns no rows."""
    assigned, cents = _int_kmeans(
        corpus, n_lists, kmeans_iters, scale, id_col, vec_col
    )
    return _int_probe_topk(
        assigned.withColumnRenamed("id", "neighbor_id"),
        cents,
        queries,
        k=k,
        n_probe=n_probe,
        scale=scale,
        dim=_infer_dim(corpus, vec_col),
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def _int_probe_rows(
    cents: dict,
    queries: DataFrame,
    n_probe: int,
    scale: int,
    dim: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> list:
    """Driver-side probe binding for the integer IVF path: quantize
    each query, rank the (k-sized, collected) centroid table by exact
    int64 L2², and emit ``(query_id, q_qv, list_id)`` rows for the
    ``n_probe`` nearest lists. Computed driver-side so callers that
    scan a persisted index can turn the probed set into a literal
    partition filter BEFORE the scan plans (PartitionFilters)."""
    import numpy as np

    quant = _quant_udf(scale)
    q = collect_bounded(
        queries.filter(
            F.col(query_vec_col).isNotNull()
            & (F.size(F.col(query_vec_col)) == dim)
        ).select(
            F.col(query_id_col).alias("query_id"),
            quant(F.col(query_vec_col)).alias("q_qv"),
        ),
        100_000,  # query side is assumed dimension-sized (l06's contract)
        "ANN query side",
    )
    ids, C, cc = _cent_matrix(cents)
    probe_rows = []
    for r in q:
        Q = np.asarray(r["q_qv"], dtype=np.int64)
        d = (Q * Q).sum() - 2 * (C @ Q) + cc
        order = sorted(range(len(ids)), key=lambda j: (int(d[j]), ids[j]))
        for j in order[: min(n_probe, len(ids))]:
            probe_rows.append((r["query_id"], list(map(int, Q)), ids[j]))
    return probe_rows


def _int_probe_topk(
    assigned: DataFrame,
    cents: dict,
    queries: DataFrame,
    k: int,
    n_probe: int,
    scale: int,
    dim: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    probe_rows: list | None = None,
) -> DataFrame:
    """Probe stage of the integer IVF path: pick each query's
    ``n_probe`` nearest lists by exact int64 centroid distance, score
    candidates in the probed lists, window top-k. Shared by the inline,
    appended, and persisted-index variants — bit-identical results.
    ``probe_rows`` lets a caller that already bound the probes
    driver-side (to prune a persisted scan) skip recomputing them."""
    spark = assigned.sparkSession
    if probe_rows is None:
        probe_rows = _int_probe_rows(
            cents, queries, n_probe, scale, dim, query_id_col, query_vec_col
        )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, q_qv array<long>, list_id long"
    )

    cand = probes.join(assigned, "list_id")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["q_qv"].tolist(), dtype=np.int64)
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            d = (
                (Q * Q).sum(axis=1)
                - 2 * (Q * V).sum(axis=1)
                + (V * V).sum(axis=1)
            )
            out = pdf[["query_id", "neighbor_id"]].copy()
            out["dist_sq"] = d
            yield out

    scored = cand.mapInPandas(
        score, schema="query_id long, neighbor_id long, dist_sq long"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    from pyspark.sql import Window as W

    win = W.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rank"),
            "neighbor_id",
            "dist_sq",
        )
    )


def exact_self_topk_int(
    emb: DataFrame,
    k: int = 5,
    scale: int = 1024,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """EXACT whole-corpus self top-k on the integer grid — the
    all-pairs ground truth ``ivf_self_topk_int`` is audited against
    (l108/l108b's agreement arm), as a block-grid triangle + grouped
    Arrow matmul instead of a join: the naive per-dimension equi-join
    (explode dims, join on i, re-aggregate) materializes dim·n² rows
    through a shuffle — 64× the pair count — while here the n² scores
    are int64 matmul flops inside B(B+1)/2 grid cells and only
    B·n replicated rows + per-(query, cell) top-k winners ever move
    (``dedup.embedding_dup_pairs``' cell scheme, directional: a p<q
    cell emits winners for BOTH sides). Integer sums are order-free,
    so matmul distances are bit-identical to any SQL left-fold; ties
    break by neighbor_id via stable argsort over ascending-id member
    blocks. Quadratic BY DEFINITION (the documented audit baseline —
    the scale path is the IVF/LSH candidate generators); B bounds a
    cell at (2n/B)·dim ints + an (n/B)² score tile. ``dim`` skips the
    one-row inference job when the caller already filtered/declared a
    fixed vector width (the l108/l108b exact arm filters size == 64
    immediately upstream)."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    quant = _quant_udf(scale)
    B = n_blocks
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(B))
    v = emb.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("id"),
        quant(F.col(vec_col)).alias("qv"),
        blk.alias("blk"),
    )
    left = v.select(
        "id",
        "qv",
        F.col("blk").alias("p"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("q"),
        F.lit(0).alias("side"),
    ).withColumn("cell", F.col("p") * B + F.col("q"))
    right = v.select(
        "id",
        "qv",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("p"),
        F.col("blk").alias("q"),
        F.lit(1).alias("side"),
    ).withColumn("cell", F.col("p") * B + F.col("q"))
    both = left.unionByName(right)

    def cell_topk(pdf):
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "dist_sq": pd.Series(dtype="int64"),
            }
        )
        lpdf = pdf[pdf["side"] == 0]
        rpdf = pdf[pdf["side"] == 1].sort_values("id", kind="mergesort")
        if lpdf.empty or rpdf.empty:
            return empty
        p, q = divmod(int(pdf["cell"].iloc[0]), B)

        def topk_against(qf, vf):
            Q = np.array(qf["qv"].tolist(), dtype=np.int64)
            V = np.array(vf["qv"].tolist(), dtype=np.int64)
            d = (
                (Q * Q).sum(axis=1)[:, None]
                - 2 * (Q @ V.T)
                + (V * V).sum(axis=1)[None, :]
            )
            qids = qf["id"].to_numpy()
            vids = vf["id"].to_numpy()
            kk = min(k + 1, d.shape[1])
            order = np.argsort(d, axis=1, kind="stable")[:, :kk]
            nbr = vids[order]
            dd = np.take_along_axis(d, order, axis=1)
            keep = nbr != qids[:, None]
            keep &= keep.cumsum(axis=1) <= k
            m = keep.ravel()
            return pd.DataFrame(
                {
                    "query_id": qids.repeat(kk)[m],
                    "neighbor_id": nbr.ravel()[m],
                    "dist_sq": dd.ravel()[m],
                }
            )

        out = [topk_against(lpdf, rpdf)]
        if p != q:
            # directional: the q-block's vectors also query the p-block
            out.append(
                topk_against(rpdf, lpdf.sort_values("id", kind="mergesort"))
            )
        return pd.concat(out, ignore_index=True)

    scored = both.groupBy("cell").applyInPandas(
        cell_topk, schema="query_id long, neighbor_id long, dist_sq long"
    )
    win = W.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rank"),
            "neighbor_id",
            "dist_sq",
        )
    )


def auto_n_lists(n: int, lo: int = 16, hi: int = 4096) -> int:
    """Smallest power-of-two list count ``p`` in ``[lo, hi]`` with
    ``p² ≥ n`` — i.e. ⌈√n⌉ rounded up to a power of two. √n is the IVF
    balance point: Lloyd assignment costs n·p centroid distances while
    self-probe candidate volume is n²·n_probe/p, so p ≈ √n holds BOTH
    at n^1.5 instead of letting either go quadratic (fixed p makes the
    self-probe Θ(n²); p ∝ n makes Lloyd Θ(n²)). Pure integer
    comparisons — replayed exactly by a SQL CASE chain over the same
    corpus count in the l108b oracle, the ``auto_n_planes`` precedent."""
    p = lo
    while p < hi and p * p < n:
        p *= 2
    return p


def ivf_self_topk_int(
    emb: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 6,
    kmeans_iters: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    split_cap: int = 4096,
    dim: int | None = None,
) -> DataFrame:
    """Whole-corpus SELF top-k from the integer IVF index: every vector
    is a query against the index it lives in (the all-vectors shape
    label audits / SemDeDup-style passes need). Unlike
    ``_int_probe_rows`` — whose driver-side probe binding assumes a
    dimension-sized query set (l06's contract) — the probe assignment
    here is DISTRIBUTED: one Arrow pass with the k×dim centroid table
    riding the closure emits each vector's ``n_probe`` nearest list
    ids (ties on dist broken by list_id, matching the oracle's ORDER
    BY) WITH its quantized vector attached, probes and list members
    meet in ONE grouped Arrow pass per list (side-tagged union +
    ``applyInPandas`` — the cogroup-safe shape), and each list scores
    its probe block against its member block as a single int64 matrix
    product, emitting only the per-(query, list) top-k (stable argsort
    over members in ascending-id order == the oracle's ORDER BY
    dist_sq, neighbor_id). The global window over per-list winners is
    exact: every global top-k neighbor lives in some probed list and
    survives that list's local top-k. Deterministic end to end — a SQL
    oracle replays build, probe, and rank (queries/llm.py::l108b; the
    per-list prune is result-invariant so the oracle ranks the full
    candidate set).

    ``n_lists=None`` (the default) AUTO-SCALES the list count from the
    corpus count via ``auto_n_lists`` (⌈√n⌉ to a power of two): fixed
    lists made the self-probe Θ(n²) — n·(n_probe/n_lists)·n candidate
    SCORES at any corpus size — while √n lists hold Lloyd assignment
    AND probe volume at Θ(n^1.5·n_probe). The per-list matmul means
    those scores are BLAS-shaped flops, never shuffled rows: the only
    wide exchanges are the probe emit (n·n_probe rows, one vector
    each) and the per-list winners (n·n_probe·k narrow rows).

    Per-group memory is bounded on BOTH axes at any skew. MEMBER side:
    a list larger than ``split_cap`` splits into
    ⌈|list|/split_cap⌉ deterministic hash sub-groups
    (pmod(xxhash64(id), n_subs) — expected sub size ≤ split_cap; a
    k-means list absorbs ALL replicas of a duplicated vector, so
    verbatim-replica corpora pile single lists arbitrarily deep — the
    same duplicate-skew hazard bucket_cap closes for LSH, here closed
    without dropping members since every probe replicates to every
    sub and per-sub top-k unions are result-invariant). QUERY side:
    the scorer tiles its probe block in fixed-size numpy chunks, so
    the distance tile never exceeds chunk×split_cap regardless of how
    many queries probe one hot list. At 100 TB lists are partitions
    of the persisted index and probes prune the scan (l75/l93's
    PartitionFilters shape)."""
    # Driver-job-chain shape (round-16 verdict item 4): the warm serve
    # here was ~10 SEQUENTIAL driver jobs (infer dim, full-scan count,
    # a second infer inside the kmeans, quantize checkpoint, seed
    # collect, two Lloyd collects, an eager final-assign checkpoint,
    # the exact arm's infer, the final action) — latency-bound at
    # bench SF (8c/32c ratio 0.72). Collapsed: dim passes through
    # (callers that filter/declare a fixed width hand it in), the
    # quantized frame is checkpointed ONCE and the auto_n_lists count
    # reads that materialization instead of re-scanning the corpus.
    # The final-assign cut stays EAGER (see _int_kmeans). Results are
    # invariant: the count is over the identical filter (quantization
    # is 1:1) and every collapsed job computed the same values.
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    quant = _quant_udf(scale)
    c = (
        emb.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
        .select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
        .transform(cut_lineage)  # reused: count + per-iteration + assign
    )
    if n_lists is None:
        n_lists = auto_n_lists(c.count())
    assigned, cents = _int_kmeans(
        emb, n_lists, kmeans_iters, scale, id_col, vec_col,
        dim=dim, prepared=c,
    )
    ids, C, cc = _cent_matrix(cents)
    idarr = np.array(ids, dtype=np.int64)
    npb = min(n_probe, len(ids))

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + cc[None, :]
            # C rows are ascending list_id, so a stable argsort breaks
            # distance ties by list_id — the oracle's ORDER BY d, list_id
            order = np.argsort(d, axis=1, kind="stable")[:, :npb]
            yield pd.DataFrame(
                {
                    "list_id": idarr[order].reshape(-1),
                    "side": np.zeros(len(pdf) * npb, dtype=np.int32),
                    "id": pdf["id"].to_numpy().repeat(npb),
                    "vec": [v for v in pdf["qv"] for _ in range(npb)],
                }
            )

    # deterministic member-side skew split: lists larger than
    # split_cap score in ceil(|list|/split_cap) hash sub-groups
    nsubs = assigned.groupBy("list_id").agg(
        F.expr(f"CAST((count(*) + {split_cap - 1}) div {split_cap} AS INT)")
        .alias("n_subs")
    )
    probes = (
        assigned.select("id", "qv")
        .mapInPandas(
            probe, schema="list_id long, side int, id long, vec array<long>"
        )
        .join(F.broadcast(nsubs), "list_id")
        .select(
            "list_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_subs") - 1)
            ).alias("sub"),
            "side",
            "id",
            "vec",
        )
    )
    members = assigned.join(F.broadcast(nsubs), "list_id").select(
        "list_id",
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.col("n_subs"))
        .cast("int")
        .alias("sub"),
        F.lit(1).alias("side"),
        "id",
        F.col("qv").alias("vec"),
    )

    def per_list(pdf):
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "dist_sq": pd.Series([], dtype="int64"),
            }
        )
        q = pdf[pdf["side"] == 0]
        v = pdf[pdf["side"] == 1].sort_values("id", kind="mergesort")
        if not len(q) or not len(v):
            return empty
        V = np.array(v["vec"].tolist(), dtype=np.int64)
        vv = (V * V).sum(axis=1)
        vids = v["id"].to_numpy()
        out = []
        # fixed-size query tiles: distance tile <= chunk x |V| however
        # many queries probe this (list, sub)
        chunk = 1024
        for lo in range(0, len(q), chunk):
            qc = q.iloc[lo : lo + chunk]
            Q = np.array(qc["vec"].tolist(), dtype=np.int64)
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ V.T) + vv[None, :]
            qids = qc["id"].to_numpy()
            kk = min(k + 1, d.shape[1])  # +1 absorbs the self row
            # V rows ascend by id, so stable argsort ties by
            # neighbor_id — the oracle's ORDER BY dist_sq, neighbor_id
            order = np.argsort(d, axis=1, kind="stable")[:, :kk]
            nbr = vids[order]
            dd = np.take_along_axis(d, order, axis=1)
            keep = nbr != qids[:, None]
            keep &= keep.cumsum(axis=1) <= k
            m = keep.ravel()
            out.append(
                pd.DataFrame(
                    {
                        "query_id": qids.repeat(kk)[m],
                        "neighbor_id": nbr.ravel()[m],
                        "dist_sq": dd.ravel()[m],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    scored = (
        probes.unionByName(members)
        .groupBy("list_id", "sub")
        .applyInPandas(
            per_list, schema="query_id long, neighbor_id long, dist_sq long"
        )
    )
    win = W.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rank"),
            "neighbor_id",
            "dist_sq",
        )
    )


def ivf_append_topk_int(
    base: DataFrame,
    new_vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 6,
    kmeans_iters: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Incremental-maintenance semantics of the integer IVF index,
    in-memory: fit centroids on ``base`` only, FREEZE them, assign
    ``new_vectors`` to the frozen centroids (the append path — no
    re-fit), and probe the union. This is exactly what
    ``append_ivf_index_int`` persists to disk, expressed as one plan
    so a SQL oracle can replay it (queries/llm.py::l70). Mirrors the
    reference's accumulate-on-put index maintenance
    (reference: src/serverlib/NodeAttrIndex.cs:187-232 — new fragments
    join the existing index structure; the structure is not rebuilt
    per put)."""
    dim = _infer_dim(base, vec_col)
    assigned_b, cents = _int_kmeans(
        base, n_lists, kmeans_iters, scale, id_col, vec_col
    )
    quant = _quant_udf(scale)
    fresh = new_vectors.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
    assigned = assigned_b.unionByName(_int_assign(fresh, cents))
    return _int_probe_topk(
        assigned.withColumnRenamed("id", "neighbor_id"),
        cents,
        queries,
        k=k,
        n_probe=n_probe,
        scale=scale,
        dim=dim,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def build_ivf_index_int(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    kmeans_iters: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the INTEGER-deterministic IVF index: quantized vectors
    list-partitioned under ``path/lists`` (probe = parquet partition
    pruning, not a scan) and the frozen int64 centroids under
    ``path/centroids``. Build once, probe many — k-means and the one
    shuffle on list_id amortize across every later query batch.
    Returns list count."""
    spark = corpus.sparkSession
    assigned, cents = _int_kmeans(
        corpus, n_lists, kmeans_iters, scale, id_col, vec_col
    )
    assigned.withColumnRenamed("id", "neighbor_id").write.partitionBy(
        "list_id"
    ).mode("overwrite").parquet(f"{path}/lists")
    spark.createDataFrame(
        [(i, [int(x) for x in c]) for i, c in sorted(cents.items())],
        "list_id long, cent array<long>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    return len(cents)


def _read_int_centroids(spark, path: str) -> dict:
    return {
        int(r.list_id): list(r.cent)
        for r in collect_bounded(
            spark.read.parquet(f"{path}/centroids"),
            65_536,
            "IVF centroid table",
        )
    }


def append_ivf_index_int(
    new_vectors: DataFrame,
    path: str,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append new vectors to a persisted integer IVF index WITHOUT a
    rebuild: assign them to the index's frozen centroids and
    append-write into the existing list partitions (each appended file
    lands only in its list's directory — append cost ∝ batch size, not
    corpus size). Returns per-list append stats ``(list_id,
    n_appended)`` so callers can monitor list balance. Centroids do NOT
    move — run ``ivf_index_drift_int`` periodically; re-fit when drift
    says the frozen centroids stopped describing the data."""
    spark = new_vectors.sparkSession
    cents = _read_int_centroids(spark, path)
    if not cents:
        raise ValueError(
            f"IVF index at {path} has no centroids (built over an empty "
            "corpus): rebuild it with build_ivf_index_int over a "
            "non-empty corpus before appending"
        )
    dim = len(next(iter(cents.values())))
    quant = _quant_udf(scale)
    fresh = new_vectors.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
    assigned = (
        _int_assign(fresh, cents)
        .withColumnRenamed("id", "neighbor_id")
        .transform(cut_lineage)  # consumed twice: write + stats
    )
    assigned.write.partitionBy("list_id").mode("append").parquet(
        f"{path}/lists"
    )
    return assigned.groupBy("list_id").agg(
        F.count("*").alias("n_appended")
    )


def ivf_topk_int_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 6,
    scale: int = 1024,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe a persisted integer IVF index (original build PLUS any
    appended batches): identical scoring to ``ivf_topk_int``; the scan
    reads only the probed list partitions (PartitionFilters via the
    ``isin`` on the partition column)."""
    cents = _read_int_centroids(spark, path)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, dist_sq long"
        )
    dim = len(next(iter(cents.values())))
    # bind probed lists driver-side so they become a literal isin on
    # the partition column — PartitionFilters prune every unprobed
    # list directory at planning time
    probe_rows = _int_probe_rows(
        cents, queries, n_probe, scale, dim, query_id_col, query_vec_col
    )
    probed = sorted({r[2] for r in probe_rows})
    assigned = spark.read.parquet(f"{path}/lists").filter(
        F.col("list_id").isin(probed)
    )
    return _int_probe_topk(
        assigned,
        cents,
        queries,
        k=k,
        n_probe=n_probe,
        scale=scale,
        dim=dim,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        probe_rows=probe_rows,
    )


def compact_ivf_lists(spark, path: str) -> dict:
    """Compact a persisted integer IVF index's list partitions: every
    ``append_ivf_index_int`` batch adds one file per touched list, so
    a long-lived index accretes small files (the classic streaming-
    append pathology — at 100 TB the probe's scan cost becomes file-
    open overhead, not bytes). Rewrite each list as one file set via a
    staged write + two-rename swap (write to ``lists.compact``, move
    ``lists`` aside, move the staged dir in). Each individual rename is
    atomic, but the swap as a whole is not: a reader can observe a
    FileNotFound in the instant between the two renames and must retry,
    and a crash in that window leaves only ``lists.old`` (recover by
    renaming it back). A stale ``lists.old`` from a prior failed run is
    removed up front so the swap cannot trip over it. True either-or
    atomicity needs manifest indirection (a pointer file naming the
    live directory) — out of scope for the local layout. Returns
    ``{"files_before": n, "files_after": m}``. The maintenance analog
    of the reference's index-file consolidation on snapshot
    (NodeAttrIndex.cs:66-85)."""
    import glob
    import os
    import shutil

    lists_dir = f"{path}/lists"

    def _count_files(d):
        return len(glob.glob(f"{d}/list_id=*/*.parquet"))

    before = _count_files(lists_dir)
    df = spark.read.parquet(lists_dir)
    staged = f"{path}/lists.compact"
    old = f"{path}/lists.old"
    # a stale lists.old from a prior crashed compaction would make the
    # first rename below fail — clear it before staging anything
    if os.path.exists(old):
        shutil.rmtree(old)
    (
        df.repartition("list_id")
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(staged)
    )
    os.rename(lists_dir, old)
    os.rename(staged, lists_dir)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _count_files(lists_dir)}


def ivf_index_drift_int(spark, path: str) -> DataFrame:
    """Index-maintenance telemetry: per list, the stored (frozen)
    centroid vs the CURRENT member mean (what a re-fit step would move
    it to), as exact int64 L2². ``drift_sq`` grows as appended batches
    shift a list's distribution; a deployment re-fits (rebuild) when
    drift crosses its tolerance. One aggregate over the index — no
    probe, no rebuild."""
    import numpy as np

    schema = "list_id long, n_members long, drift_sq long"
    cents = _read_int_centroids(spark, path)
    if not cents:  # built over an empty corpus: no lists to measure
        return spark.createDataFrame([], schema)
    dim = len(next(iter(cents.values())))
    members = spark.read.parquet(f"{path}/lists")

    def sums(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for lid, grp in pdf.groupby("list_id"):
                M = np.array(grp["qv"].tolist(), dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "list_id": [int(lid)],
                        "s": [M.sum(axis=0).tolist()],
                        "n": [len(grp)],
                    }
                )

    parts = collect_bounded(
        members.mapInPandas(
            sums, schema="list_id long, s array<long>, n long"
        ),
        1_048_576,  # <= n_lists x partitions rows of k x dim scalars
        "IVF list partial sums",
    )
    agg: dict = {}
    for r in parts:
        s0, n0 = agg.get(r["list_id"], ([0] * dim, 0))
        agg[r["list_id"]] = (
            [a + b for a, b in zip(s0, r["s"])],
            n0 + r["n"],
        )
    rows = []
    for lid, cent in sorted(cents.items()):
        s, n = agg.get(lid, ([0] * dim, 0))
        if n == 0:
            rows.append((lid, 0, None))
            continue
        mean = [_trunc_div(si, n) for si in s]
        drift = sum((a - b) ** 2 for a, b in zip(mean, cent))
        rows.append((lid, n, int(drift)))
    return spark.createDataFrame(rows, schema)


def semantic_dedup_int(
    emb: DataFrame,
    threshold_sq: tuple[int, int] = (289, 400),
    n_lists: int = 16,
    kmeans_iters: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540) with FULLY INTEGER semantics: k-means-cluster the
    embeddings, then inside each cluster drop every vector that has a
    lower-id neighbor at/above the cosine threshold. Clusters come from
    the shared integer k-means (`_int_kmeans`), and the within-cluster
    cosine test runs WITHOUT any float: on the quantized grid,

        cos(a, b) >= t  ⟺  dot > 0  AND  D·dot² >= N·|a|²·|b|²

    with t² = N/D exact rational (default 289/400 = 0.85²). dot and
    the squared norms are exact int64 (≤ ~2e7 at scale 1024, so D·dot²
    ≤ ~1.4e17 stays in BIGINT), which makes keep/drop decisions — and
    therefore the whole keep-list — bit-identical in any engine.
    Returns ``(vec_id, list_id, kept)`` for every valid input vector —
    the keep-list plus which cluster each vector landed in; an empty or
    all-NULL corpus returns no rows.

    Scale shape: pair work confined to clusters (equi-join on
    ``list_id``; Σ cluster², never corpus² — the SemDeDup trade:
    cross-cluster near-dups are missed by design); the integer
    predicate runs in one Arrow pass over the cluster equi-join."""
    import numpy as np

    num, den = threshold_sq
    assigned, _ = _int_kmeans(
        emb, n_lists, kmeans_iters, scale, id_col, vec_col
    )
    a = assigned.select(
        "list_id", F.col("id").alias("id_a"), F.col("qv").alias("qv_a")
    )
    b = assigned.select(
        "list_id", F.col("id").alias("id_b"), F.col("qv").alias("qv_b")
    )
    pairs = a.join(b, "list_id").filter(F.col("id_a") < F.col("id_b"))

    def judge(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["qv_a"].tolist(), dtype=np.int64)
            B = np.array(pdf["qv_b"].tolist(), dtype=np.int64)
            dot = (A * B).sum(axis=1)
            na = (A * A).sum(axis=1)
            nb = (B * B).sum(axis=1)
            hit = (dot > 0) & (den * dot * dot >= num * na * nb)
            out = pdf.loc[hit, ["id_b"]].copy()
            yield out

    dropped = (
        pairs.mapInPandas(judge, schema="id_b long")
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("hit", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "list_id",
            F.coalesce(~F.col("hit"), F.lit(True)).alias("kept"),
        )
    )


def pq_topk_int(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 4,
    ksub: int = 16,
    kmeans_iters: int = 2,
    rerank: int = 100,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation) with
    FULLY INTEGER semantics: split the vector into ``m_sub``
    subspaces, encode every corpus vector as ``m_sub`` codes, and scan
    codes only. Vectors quantize to the int64 grid, each subspace
    trains its own integer k-means (seeds = the ``ksub`` smallest ids'
    subvectors, exact Lloyd sums, trunc-toward-zero division), the ADC
    scan scores every corpus code against per-query integer lookup
    tables, and the top-``rerank`` candidates re-rank by EXACT int64
    L2² on the full quantized vectors. No floats anywhere after
    quantization, so a SQL engine replays codebook training, encoding,
    ADC scores, and final ranks bit-for-bit (queries/llm.py::l54's
    generated oracle). An empty or all-NULL corpus returns no rows.

    Scale shape = production PQ: the codebook (m_sub × ksub × dim/m_sub
    ints) lives in UDF closures; encoding and ADC are single
    mapInPandas scans (the corpus's raw vectors are touched only by
    the ``rerank`` candidates); top-k per query is a window over
    ADC scores. Queries ride in the scan closure — the
    10-query × corpus score emission IS the PQ memory-bound scan."""
    import numpy as np

    dim = _infer_dim(corpus, vec_col)
    dsub = dim // m_sub
    quant = _quant_udf(scale)

    c = (
        corpus.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
        .select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
        .transform(cut_lineage)  # reused per iteration + encode + rerank
    )
    seeds = c.orderBy("id").limit(ksub).collect()
    # cents[sub] = {code: dsub-dim list}; same seed ids for every sub
    cents = {
        s: {
            i: list(r["qv"])[s * dsub : (s + 1) * dsub]
            for i, r in enumerate(seeds)
        }
        for s in range(m_sub)
    }

    def encode(frame: DataFrame, cents: dict) -> DataFrame:
        mats = {
            s: (
                sorted(cents[s]),
                np.array(
                    [cents[s][i] for i in sorted(cents[s])], dtype=np.int64
                ),
            )
            for s in cents
        }
        schema = "id long, qv array<long>, codes array<long>"

        def op(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
                codes = np.zeros((len(pdf), m_sub), dtype=np.int64)
                for s, (ids, C) in mats.items():
                    Qs = Q[:, s * dsub : (s + 1) * dsub]
                    d = (
                        (Qs * Qs).sum(axis=1)[:, None]
                        - 2 * (Qs @ C.T)
                        + (C * C).sum(axis=1)[None, :]
                    )
                    # first-min argmin == smallest code on ties
                    codes[:, s] = [ids[j] for j in d.argmin(axis=1)]
                out = pdf[["id", "qv"]].copy()
                out["codes"] = codes.tolist()
                yield out

        return frame.mapInPandas(op, schema=schema)

    def update(encoded: DataFrame) -> dict:
        def sums(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
                K = np.array(pdf["codes"].tolist(), dtype=np.int64)
                rows = []
                for s in range(m_sub):
                    Qs = Q[:, s * dsub : (s + 1) * dsub]
                    for code in np.unique(K[:, s]):
                        mask = K[:, s] == code
                        rows.append(
                            (
                                int(s),
                                int(code),
                                Qs[mask].sum(axis=0).tolist(),
                                int(mask.sum()),
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=["sub", "code", "s", "n"]
                )

        parts = collect_bounded(
            encoded.mapInPandas(
                sums, schema="sub long, code long, s array<long>, n long"
            ),
            1_048_576,  # <= subs x codes x partitions
            "PQ codebook partial sums",
        )
        agg: dict = {}
        for r in parts:
            key = (r["sub"], r["code"])
            s0, n0 = agg.get(key, ([0] * dsub, 0))
            agg[key] = ([a + b for a, b in zip(s0, r["s"])], n0 + r["n"])
        out: dict = {s: {} for s in range(m_sub)}
        for (s, code), (sm, n) in agg.items():
            if n > 0:
                out[s][code] = [_trunc_div(x, n) for x in sm]
        return out

    for _ in range(kmeans_iters):
        cents = update(encode(c, cents))
    encoded = encode(c, cents).transform(cut_lineage)

    q = collect_bounded(
        queries.filter(
            F.col(query_vec_col).isNotNull()
            & (F.size(F.col(query_vec_col)) == dim)
        ).select(
            F.col(query_id_col).alias("query_id"),
            quant(F.col(query_vec_col)).alias("q_qv"),
        ),
        100_000,  # query side small by contract (l06)
        "ANN query side",
    )
    # per-query integer LUTs: lut[qid][sub][code] = L2² of subvectors
    luts = {}
    qvecs = {}
    for r in q:
        Q = np.asarray(r["q_qv"], dtype=np.int64)
        qvecs[r["query_id"]] = Q
        luts[r["query_id"]] = {
            s: {
                code: int(
                    (
                        (
                            Q[s * dsub : (s + 1) * dsub]
                            - np.asarray(v, dtype=np.int64)
                        )
                        ** 2
                    ).sum()
                )
                for code, v in cents[s].items()
            }
            for s in range(m_sub)
        }

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            K = np.array(pdf["codes"].tolist(), dtype=np.int64)
            for qid, lut in luts.items():
                d = np.zeros(len(pdf), dtype=np.int64)
                for s in range(m_sub):
                    table = lut[s]
                    d += np.array(
                        [table[int(code)] for code in K[:, s]],
                        dtype=np.int64,
                    )
                out = pdf[["id"]].copy()
                out.columns = ["neighbor_id"]
                out["query_id"] = qid
                out["adc_dist"] = d
                yield out[["query_id", "neighbor_id", "adc_dist"]]

    scored = encoded.mapInPandas(
        adc, schema="query_id long, neighbor_id long, adc_dist long"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    from pyspark.sql import Window as W

    wq = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    cand = (
        scored.withColumn("arn", F.row_number().over(wq))
        .filter(F.col("arn") <= rerank)
        .select("query_id", "neighbor_id", "adc_dist")
    )
    withv = cand.join(
        encoded.select(F.col("id").alias("neighbor_id"), "qv"), "neighbor_id"
    )

    def exact(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            d = np.zeros(len(pdf), dtype=np.int64)
            for qid in pdf["query_id"].unique():
                mask = (pdf["query_id"] == qid).to_numpy()
                Q = qvecs[int(qid)]
                d[mask] = ((V[mask] - Q[None, :]) ** 2).sum(axis=1)
            out = pdf[["query_id", "neighbor_id", "adc_dist"]].copy()
            out["dist_sq"] = d
            yield out

    reranked = withv.mapInPandas(
        exact,
        schema="query_id long, neighbor_id long, adc_dist long, dist_sq long",
    )
    wf = W.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rank"),
            "neighbor_id",
            "dist_sq",
            "adc_dist",
        )
    )


def pca_top_component(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
    iters: int = 3,
) -> list[int]:
    """INTEGER-DETERMINISTIC top principal component by power iteration
    — the dimensionality-reduction/whitening primitive of an embedding
    pipeline, built the l15/l54 way so a DuckDB oracle replays it
    bit-for-bit: quantize to the int64 grid (floor(x*scale+0.5), the
    single IEEE op), accumulate the integer covariance NUMERATOR
    C = N·Σqᵢqⱼ − Σqᵢ·Σqⱼ (scaled covariance ×N², exact), then run
    ``iters`` power-iteration steps DRIVER-SIDE in unbounded Python
    ints: u = C·v; v = sign(u)·(|u|·scale // max|u|) — trunc division,
    matching DuckDB ``//`` and HUGEINT accumulation. Returns the
    component as a list of ``dim`` ints in [-scale, scale].

    Scale shape: the N-proportional work (covariance partials) runs as
    mapInPandas int64 numpy outer products — dim² longs per PARTITION
    cross the wire, never dim²·N rows; the dim×dim iteration is
    driver-side scalars (same contract as k-means centroids). At 100 TB
    the partials stay int64-safe for |q| ≤ scale and ≤2^30 rows per
    partition; the driver combine is unbounded-int Python."""
    rows = collect_bounded(
        covariance_partials(corpus, id_col, vec_col, scale),
        65_536,  # one dim^2 partial per input partition
        "covariance partials",
    )
    dim = _infer_dim(corpus, vec_col)
    return component_from_partials(rows, dim, scale, iters)


def covariance_partials(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
) -> DataFrame:
    """The N-proportional half of ``pca_top_component`` as a reusable
    DataFrame of MERGEABLE integer partials ``(spq, si, n)`` — integer
    sums are associative, so partials from disjoint corpus slices (or
    stream micro-batches: st27) merge by plain addition and the merged
    component is bit-identical to a from-scratch build."""
    import numpy as np

    dim = _infer_dim(corpus, vec_col)
    quant = _quant_udf(scale)
    q = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(quant(F.col(vec_col)).alias("qv"))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf["qv"].tolist(), dtype=np.int64)
            yield pd.DataFrame(
                {
                    "spq": [(M.T @ M).ravel().tolist()],
                    "si": [M.sum(axis=0).tolist()],
                    "n": [len(pdf)],
                }
            )

    return q.mapInPandas(
        partials, schema="spq array<long>, si array<long>, n long"
    )


def component_from_partials(
    rows, dim: int, scale: int = 1024, iters: int = 3
) -> list[int]:
    """Driver-side half of ``pca_top_component``: combine integer
    covariance partials in unbounded Python ints and run the
    power-iteration steps (trunc-division rescale, the DuckDB
    ``//``/HUGEINT contract)."""
    n = sum(r["n"] for r in rows)
    spq = [0] * (dim * dim)
    si = [0] * dim
    for r in rows:
        for k, v in enumerate(r["spq"]):
            spq[k] += int(v)
        for k, v in enumerate(r["si"]):
            si[k] += int(v)
    cov = [
        [n * spq[i * dim + j] - si[i] * si[j] for j in range(dim)]
        for i in range(dim)
    ]
    v = [1] * dim
    for _ in range(iters):
        u = [sum(cov[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in u)
        # trunc toward zero (Python // floors: route through abs)
        v = [
            (-1 if x < 0 else 1) * ((abs(x) * scale) // m) for x in u
        ]
    return v


def debias_top_component(
    corpus: DataFrame,
    component: list[int],
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-but-the-top embedding debias: remove the top principal
    component (``pca_top_component``'s integer vector) from every
    embedding — the standard post-processing that recovers isotropy
    before cosine retrieval ("All-but-the-Top", ICLR'18), run entirely
    on the integer grid so the projection is oracle-replayable.

    For quantized vector q and component v: the exact projection
    residual is (q·vv − (q·v)·v) / vv with vv = Σv² — computed as an
    integer numerator and ONE trunc division per coordinate (Spark
    ``div`` == DuckDB ``//``), so both engines produce the identical
    debiased grid vector. Returns per-vector attestation scalars:
    ``(vec_id, dot_qv, norm2_q, resid_dot, resid_norm2)`` — resid_dot
    is the debiased vector's dot with v (0 up to trunc error, the
    honest success measure), norm2 before/after shows the removed
    energy.

    Scale shape: one codegen posexplode + broadcast join with the
    dim-row component table, one per-vector aggregate for dots, one
    re-join for the residual, one final aggregate — shuffle is two
    per-vector aggregates of dim-row groups, nothing quadratic; the
    component itself comes from the mapInPandas covariance pass
    (dim² longs per partition). Bounds: |q|,|v| ≤ scale keeps every
    product ≤ scale³·dim < 2^53 at scale=1024, dim=64."""
    dim = len(component)
    vv = sum(int(x) * int(x) for x in component)
    quant = _quant_udf(scale)
    spark = corpus.sparkSession
    vtab = local_rows_df(
        spark, [(i, int(x)) for i, x in enumerate(component)], "i int, v long"
    )
    q = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(F.col(id_col), quant(F.col(vec_col)).alias("qv"))
    rows = q.select(
        id_col, F.posexplode("qv").alias("i", "q")
    ).join(F.broadcast(vtab), "i")
    dots = rows.groupBy(id_col).agg(
        F.sum(F.col("q") * F.col("v")).alias("d"),
        F.sum(F.col("q") * F.col("q")).alias("n2"),
    )
    deb = rows.join(dots, id_col).withColumn(
        "ev",
        F.expr(
            f"(q * CAST({vv} AS BIGINT) - d * v) div CAST({vv} AS BIGINT)"
        ),
    )
    return deb.groupBy(id_col).agg(
        F.max("d").alias("dot_qv"),
        F.max("n2").alias("norm2_q"),
        F.sum(F.col("ev") * F.col("v")).alias("resid_dot"),
        F.sum(F.col("ev") * F.col("ev")).alias("resid_norm2"),
    )


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over an
    embedding column — the diversity-maximizing subset-selection stage
    of data-pruning pipelines (the geometric core of coreset/D4-style
    curation: pick the doc farthest from everything already kept,
    repeat). Gonzalez's 2-approximation, run exactly.

    Integer-deterministic end to end (the l15/l37 contract): vectors
    quantize to the int64 grid (floor(x*scale + 0.5)), distances are
    exact int64 L2², the seed is the smallest id, each round picks the
    point with the LARGEST min-distance-to-selected (ties -> smallest
    id). Every decision therefore replays bit-for-bit in the DuckDB
    oracle (unrolled MATERIALIZED CTE chain, one level per round).

    Scale shape: each of the k rounds is one Arrow-batched scan of the
    corpus (centers ride the closure as k x dim int64 literals — KB) +
    a TakeOrdered(1); nothing shuffles the corpus, cost k * scan. The
    final labeling pass is the same scan emitting (point -> nearest
    center, distance), aggregated per center: coverage counts and the
    k-center radius — the coreset-quality report. At 100 TB: k scans
    of a columnar projection (id + 64 floats), each embarrassingly
    parallel; the driver holds only k vectors.

    Returns one row per selected center:
    (sel_order, vec_id, n_assigned, radius_sq) where radius_sq is the
    max exact quantized L2² of the points it covers.
    """
    dim = _infer_dim(corpus, vec_col)
    quant = _quant_udf(scale)
    c = (
        corpus.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
        .select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
        .transform(cut_lineage)  # consumed k+1 times
    )
    seed = c.orderBy("id").limit(1).collect()[0]
    centers = [(int(seed["id"]), list(seed["qv"]))]

    def min_dist_op(cents: list[list[int]]):
        C = np.array(cents, dtype=np.int64)
        cc = (C * C).sum(axis=1)

        def op(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
                d = (
                    (Q * Q).sum(axis=1)[:, None]
                    - 2 * (Q @ C.T)
                    + cc[None, :]
                )
                out = pdf[["id", "qv"]].copy()
                out["md"] = d.min(axis=1)
                out["so"] = d.argmin(axis=1)  # first min = smallest order
                yield out

        return op

    for _ in range(k - 1):
        far = c.mapInPandas(
            min_dist_op([qv for _, qv in centers]),
            schema="id long, qv array<long>, md long, so int",
        )
        nxt = far.orderBy(F.desc("md"), F.asc("id")).limit(1).collect()[0]
        centers.append((int(nxt["id"]), list(nxt["qv"])))

    labeled = c.mapInPandas(
        min_dist_op([qv for _, qv in centers]),
        schema="id long, qv array<long>, md long, so int",
    )
    cover = labeled.groupBy("so").agg(
        F.count("*").alias("n_assigned"),
        F.max("md").alias("radius_sq"),
    )
    sel = local_rows_df(
        corpus.sparkSession,
        [(i, cid) for i, (cid, _) in enumerate(centers)],
        "so int, vec_id long",
    )
    return (
        sel.join(F.broadcast(cover), "so", "left")
        .select(
            F.col("so").cast("long").alias("sel_order"),
            "vec_id",
            F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
            F.coalesce("radius_sq", F.lit(0)).alias("radius_sq"),
        )
    )


def kcenter_composable(
    corpus: DataFrame,
    k: int = 8,
    n_buckets: int = 4,
    k_local: int = 4,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composable-coreset k-center — the ONE-SCAN scale path that
    ``kcenter_coreset``'s k-scan greedy can't take at percent-of-corpus
    k: each id-bucket runs greedy k-center LOCALLY over its own rows
    (one ``applyInPandas`` pass, buckets in parallel), the union of
    per-bucket candidates (n_buckets x k_local rows — KB) merges on
    the driver with the same greedy, and one labeling scan reports
    coverage. Union-of-local-greedy is the classic composable-core-set
    candidate construction for k-center: the merged result is a
    constant-factor approximation of the direct greedy, at one corpus
    scan + one tiny driver merge instead of k scans.

    Determinism (and the DuckDB replay) comes from keying buckets by
    ``id % n_buckets`` — NOT by physical partition: repartitioning or
    changing ``spark.sql.shuffle.partitions`` never changes any
    bucket's membership, so every local greedy (seed = bucket-min id,
    ties -> smaller id, exact int64 L2^2 on the quantized grid) and
    the driver merge replay bit-for-bit.

    Sizing at scale: each bucket materializes as ONE pandas frame on
    an executor, so pick n_buckets ≈ corpus_rows x row_bytes /
    executor_budget (id-keyed buckets are uniform — no skew); the
    merge input is n_buckets x k_local rows, fine on the driver up to
    ~10^6 candidates. Beyond that, recurse: the candidate union is
    itself a corpus this same function shrinks (two-level merge) —
    composable core-sets compose.

    Returns (sel_order, vec_id, n_assigned, radius_sq) like
    ``kcenter_coreset``.
    """
    dim = _infer_dim(corpus, vec_col)
    quant = _quant_udf(scale)
    c = (
        corpus.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        )
        .select(F.col(id_col).alias("id"), quant(F.col(vec_col)).alias("qv"))
        .transform(cut_lineage)  # consumed by candidates + labeling
    )

    def _greedy(ids, Q, kk):
        """Exact-int greedy k-center over rows sorted by id: seed =
        min id; then argmax of min-dist-to-selected, ties -> smaller
        id (numpy argmax returns the FIRST max; rows are id-sorted)."""
        order = np.argsort(ids, kind="stable")
        ids, Q = ids[order], Q[order]
        sel = [0]
        md = ((Q - Q[0]) ** 2).sum(axis=1)
        for _ in range(min(kk, len(ids)) - 1):
            j = int(md.argmax())
            sel.append(j)
            md = np.minimum(md, ((Q - Q[j]) ** 2).sum(axis=1))
        return [(i, int(ids[j]), Q[j]) for i, j in enumerate(sel)]

    def local(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
        picks = _greedy(ids, Q, k_local)
        return pd.DataFrame(
            {
                "vec_id": [p[1] for p in picks],
                "qv": [p[2].tolist() for p in picks],
            }
        )

    cand = collect_bounded(
        c.withColumn("bucket", F.col("id") % n_buckets)
        .groupBy("bucket")
        .applyInPandas(local, schema="vec_id long, qv array<long>"),
        n_buckets * k_local,  # the composable core-set, by construction
        "k-center coreset candidates",
    )
    ids = np.array([r["vec_id"] for r in cand], dtype=np.int64)
    Q = np.array([list(r["qv"]) for r in cand], dtype=np.int64)
    centers = [(cid, qv.tolist()) for _, cid, qv in _greedy(ids, Q, k)]

    C = np.array([qv for _, qv in centers], dtype=np.int64)
    cc = (C * C).sum(axis=1)

    def label(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            P = np.array(pdf["qv"].tolist(), dtype=np.int64)
            d = (P * P).sum(axis=1)[:, None] - 2 * (P @ C.T) + cc[None, :]
            out = pdf[["id"]].copy()
            out["md"] = d.min(axis=1)
            out["so"] = d.argmin(axis=1)
            yield out

    cover = c.mapInPandas(label, schema="id long, md long, so int").groupBy(
        "so"
    ).agg(F.count("*").alias("n_assigned"), F.max("md").alias("radius_sq"))
    sel = local_rows_df(
        corpus.sparkSession,
        [(i, cid) for i, (cid, _) in enumerate(centers)],
        "so int, vec_id long",
    )
    return sel.join(F.broadcast(cover), "so", "left").select(
        F.col("so").cast("long").alias("sel_order"),
        "vec_id",
        F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
        F.coalesce("radius_sq", F.lit(0)).alias("radius_sq"),
    )


def maxsim_topk(
    corpus_chunks: DataFrame,
    query_chunks: DataFrame,
    k: int = 5,
    doc_col: str = "doc",
    chunk_col: str = "chunk",
    vec_col: str = "v",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval: every document is a BAG
    of chunk vectors and score(q, d) = Σ over q's chunks of the MAX
    cosine against any of d's chunks (MaxSim) — multi-vector retrieval,
    where one hot chunk can carry a match that a single pooled vector
    (l74) averages away.

    This is the EXACT baseline (the l06 contract): the benchmark-sized
    query chunk table broadcasts against one corpus-chunk scan (|Qc|·n
    pair scores — per-pair cosine in the post-join projection, never
    the join condition), then two aggregations: max per (query doc,
    corpus doc, query chunk) and a decimal sum per (query doc, corpus
    doc) — both map-side-combining, shuffle ∝ docs·|Q|. Rounded-6
    cosines (floor form) make the max deterministic and the
    DECIMAL(25,6) sum merge-order-exact, so top-k replays in DuckDB.
    At 100 TB the corpus side comes pre-filtered by an ANN candidate
    stage (IVF l70/l75 or sign-LSH l07 over chunk vectors); the
    scoring plan here is unchanged by that substitution.

    Returns (query_doc, doc, maxsim, rank), rank ties -> smaller doc.
    """
    c = corpus_chunks.select(
        F.col(doc_col).alias("doc"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("nc", norm(F.col("cv")))
    q = query_chunks.select(
        F.col(doc_col).alias("query_doc"),
        F.col(chunk_col).alias("qchunk"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("nq", norm(F.col("qv")))
    cos = F.try_divide(
        dot(F.col("qv"), F.col("cv")), F.col("nq") * F.col("nc")
    )
    scored = c.join(F.broadcast(q), F.lit(True)).select(
        "query_doc",
        "doc",
        "qchunk",
        (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("cos6"),
    )
    mx = scored.groupBy("query_doc", "doc", "qchunk").agg(
        F.max("cos6").alias("mx")
    )
    sc = mx.groupBy("query_doc", "doc").agg(
        F.sum(F.col("mx").cast("decimal(25,6)"))
        .cast("double")
        .alias("maxsim")
    )
    w = W.partitionBy("query_doc").orderBy(F.desc("maxsim"), F.asc("doc"))
    return sc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def auto_n_planes(
    n: int, target_occ: int = 16, lo: int = 6, hi: int = 16
) -> int:
    """Smallest plane count in ``[lo, hi]`` whose expected LSH bucket
    occupancy ``n / 2^np`` is ≤ ``target_occ`` — i.e. the smallest np
    with ``n ≤ target_occ · 2^np``. Init candidate volume is Σ bucket²
    ≈ n²/2^np per table, so holding occupancy constant keeps the init
    LINEAR in n (n · target_occ pairs) instead of quadratic: the knob
    the l119 docstring used to leave manual, now derived from the
    corpus count. Pure integer comparisons — replayed exactly by a SQL
    CASE chain in the l119 oracle, so both sides always agree on np."""
    np_ = lo
    while np_ < hi and n > (target_occ << np_):
        np_ += 1
    return np_


def knn_graph_nndescent(
    emb: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 1,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """k-NN GRAPH over the whole corpus via one NN-Descent refinement
    round (Dong/Moses/Li 2011) — the graph-ANN construction family
    (the build step HNSW-likes start from), next to the table-based
    LSH (l07) and partition-based IVF (l15) families: a deliberately
    WEAK sign-LSH init (fewer tables than l07) produces a first
    directed top-k graph G0; the refinement exploits "a neighbor of a
    neighbor is likely a neighbor" — every vector's general-neighbor
    set U(v) = N(v) ∪ R(v) (out- plus in-edges) is locally joined, so
    members of the same U(v) become candidate pairs; the union of G0
    and local-join pairs is exactly re-scored and re-ranked top-k.

    Deterministic end-to-end (seeded planes, left-fold dots, round-6
    cosines, ties on neighbor id) — a SQL oracle replays init,
    local join, and re-rank bit-identically; recall-vs-exact is
    asserted separately in pytest. Scale shape: init shuffle ∝ n·L
    with output ∝ Σ bucket² (lsh_candidate_ids' narrow form); the
    local join is an equi-join on the CENTER vector with per-center
    fan-out ≤ (2k choose 2) — cost n·O(k²), the published NN-Descent
    bound — and scoring joins stay id-keyed equi-joins. No stage
    broadcasts the corpus; everything survives n in the billions with
    k tens. ``rounds`` iterates the refinement (0 = the raw LSH init
    graph, the recall baseline the pytest compares against; NN-Descent
    converges in a handful of rounds because U(v) densifies fast).

    ``n_planes=None`` (the default) AUTO-SCALES the init's plane count
    from the corpus count via ``auto_n_planes``: expected bucket
    occupancy is held at ≤ 16 vectors, so init pair volume stays
    ~n·16·L instead of n²/2^np — the bounded-occupancy contract is
    code, not a manual knob (one count() of the filtered corpus, a
    single scalar to the driver; numpy plane draws are prefix-stable,
    so np planes are always the first np rows of the seeded stream and
    the oracle can inline the max and gate bits by np).

    ``bucket_cap`` (default 64) is the HARD init bound auto_n_planes
    cannot provide: the plane count holds EXPECTED occupancy ≤ 16 but
    saturates at np=16 (~1M vectors) and is helpless against duplicate
    skew (a verbatim-replica corpus piles one bucket 100-deep at any
    np — sf10 exponent 1.26 before the cap). Each (table, bucket)
    keeps its ``bucket_cap`` smallest ids before the init self-join,
    so init pair volume is ≤ cap·n·L regardless of skew or corpus
    size. Recall is refinement-protected: capped-out members still get
    edges through the NN-Descent local join (neighbors-of-neighbors),
    and the recall audit in tests/test_similarity.py bounds the loss.
    Deterministic (order by id) and replayed by a QUALIFY in the l119
    oracle, exactly as g30's ``_CP_HUB_CAP``."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    if n_planes is None:
        n = emb.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        ).count()
        n_planes = auto_n_planes(n)
    cand, v = lsh_candidate_ids(
        emb, n_planes, n_tables, seed, dim, id_col, vec_col,
        bucket_cap=bucket_cap,
    )

    def score(pairs: DataFrame) -> DataFrame:
        # Arrow pair scorer (the attested l05b production path): the
        # unrolled 64-term JVM dot here was the dominant stage cost —
        # measured at sf0.1 (n=2000, ~183k init pairs): score pass
        # 2.8 s JVM-expression vs 0.6 s Arrow, bit-identical rows
        # (same per-dim sequential left-fold in float64, same
        # try_divide NULL semantics — _score_pairs_join's contract).
        return _score_pairs_join(pairs, v).select(
            "id_a", "id_b", F.round("cos_raw", 6).alias("cosine")
        )

    def topk(directed: DataFrame) -> DataFrame:
        w = W.partitionBy("q").orderBy(F.desc("cosine"), F.asc("n"))
        return directed.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)

    def both_dirs(scored: DataFrame) -> DataFrame:
        return scored.select(
            F.col("id_a").alias("q"), F.col("id_b").alias("n"), "cosine"
        ).unionByName(
            scored.select(
                F.col("id_b").alias("q"), F.col("id_a").alias("n"), "cosine"
            )
        )

    ranked = topk(both_dirs(score(cand)))
    for _ in range(rounds):
        g = ranked.select("q", "n").transform(
            cut_lineage  # consumed 3x: U (2 branches) + pair union
        )
        u = undirected(g, "q", "n").toDF("center", "member")
        ua = u.select(F.col("center"), F.col("member").alias("id_a"))
        ub = u.select(F.col("center"), F.col("member").alias("id_b"))
        local = (
            ua.join(ub, "center")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        allp = local.unionByName(
            g.select(
                F.least("q", "n").alias("id_a"),
                F.greatest("q", "n").alias("id_b"),
            )
        ).distinct()
        ranked = topk(both_dirs(score(allp)))
    return ranked.select(
        F.col("q").alias("query_id"),
        F.col("n").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def undirected(g: DataFrame, a: str, b: str) -> DataFrame:
    """The undirected closure of ``g``'s directed edges ``(a, b)``:
    every edge in both directions, distinct, as columns ``(a, b)`` —
    NN-Descent's general-neighbor relation U(v) = N(v) ∪ R(v)."""
    return (
        g.select(a, b)
        .unionByName(g.select(F.col(b).alias(a), F.col(a).alias(b)))
        .distinct()
    )


def graph_serve_topk(
    seeds: DataFrame,
    adj: DataFrame,
    c: DataFrame,
    q: DataFrame,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Graph-ANN serve: per query, the candidates are its seeds, their
    neighbors and those neighbors' neighbors in the undirected
    adjacency ``adj`` (a, b), minus the query itself; they are re-ranked
    to the exact top-``k`` by cosine rounded to 6 decimals (ties on
    neighbor id, NULL cosines of zero-norm vectors last), and each
    returned row is audited against the brute-force top-``k``.

    ``seeds`` is (query_id, node), ``c`` the corpus (id, v, nv) and
    ``q`` the query panel (query_id, qv, nq), norms precomputed. Seeding
    a query with itself gives the 2-hop expansion N(q) ∪ N(N(q)).
    Returns (query_id, neighbor_id, cosine, rank, in_exact_top<k>).
    Serve cost is Θ(|seeds|·deg²) id-keyed equi-join rows at any corpus
    size; only the audit arm, |Q|·n by construction, scans the corpus
    (``brute_force_topk``'s broadcast-query shape)."""
    nbr = adj.select(F.col("a").alias("x"), "b")

    def hop(f: DataFrame) -> DataFrame:
        return f.join(nbr, "x").select("query_id", F.col("b").alias("x"))

    h0 = seeds.select("query_id", F.col("node").alias("x"))
    h1 = (
        h0.unionByName(hop(h0))
        .distinct()
        .transform(cut_lineage)  # consumed 2x: union + second hop
    )
    cand = (
        h1.unionByName(hop(h1))
        .filter(F.col("x") != F.col("query_id"))
        .distinct()
    )
    cx = c.select(
        F.col("id").alias("x"), F.col("v").alias("vx"), F.col("nv").alias("nx")
    )
    cos = F.try_divide(dot("qv", "vx", dim), F.col("nq") * F.col("nx"))
    scored = (
        cand.join(cx, "x")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("x").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    exact = brute_force_topk(
        c, q, k=k, id_col="id", vec_col="v", query_vec_col="qv"
    ).select("query_id", F.col("neighbor_id").alias("x_id"))
    return topk.join(
        exact,
        (topk.query_id == exact.query_id) & (topk.neighbor_id == exact.x_id),
        "left",
    ).select(
        topk.query_id,
        "neighbor_id",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
        F.col("x_id").isNotNull().cast("int").alias(f"in_exact_top{k}"),
    )


def knn_graph_delete_consolidate(
    graph: DataFrame,
    emb: DataFrame,
    deleted: DataFrame,
    k: int = 5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DELETE-consolidation for a persisted k-NN graph index (the
    FreshDiskANN delete rule, Singh et al. 2021): removing vectors
    from a navigable graph punches holes in surviving adjacency
    lists, so every survivor ``u`` that pointed at a deleted node
    ``d`` patches its list from ``d``'s own out-neighbors — the
    two-hop closure u→d→x keeps the graph navigable without touching
    unaffected nodes. The new adjacency of an affected node is the
    exact top-``k`` re-rank of (surviving old links) ∪ (deleted
    links' surviving out-neighbors) — candidates per node ≤ k·(k+1),
    so consolidation cost is Θ(|affected|·k²) score pairs, NEVER a
    corpus rebuild (the l93/l84 incremental-maintenance contract,
    here for the graph family: build l119/l133, serve l133, delete
    this).

    ``graph`` is a directed top-k edge list (query_id, neighbor_id),
    read three times, so callers pass it persisted (the session
    store's graph is); ``deleted`` a one-column ``id`` frame. Returns
    the consolidated adjacency of AFFECTED nodes only: (u, x, cmicro,
    rank) with ``cmicro`` = floor(round(cosine, 6)·1e6 + 0.5) — the integer
    micro-score form whose ranks and sums replay exactly in SQL (the
    l80 smicro pattern). Deterministic: ties break on neighbor id.

    Scale shape: deleted-set membership tests are semi/anti
    equi-joins (AQE broadcasts the deleted side when small — no
    corpus broadcast ever); candidate generation is two id-keyed
    equi-joins on the graph (each node carries ≤ k edges); exact
    scoring joins fetch ≤ |affected|·k(k+1) vector pairs by id. At a
    1/23 delete fraction and k=5 the whole pass is linear in the
    affected frontier, independent of corpus size."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    g = graph.select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("n")
    )  # consumed 3x: live edges + patch source
    dl = deleted.select(F.col("id").alias("_did")).transform(
        cut_lineage_lazy  # consumed 3x: the three membership tests
    )
    # survivors' edges, split into still-valid and dangling
    live = g.join(dl, g.q == dl._did, "left_anti").select(
        F.col("q").alias("u"), F.col("n").alias("x")
    ).transform(cut_lineage)  # consumed 3x: lost + kept + old-degree agg
    lostn = live.join(dl, live.x == dl._did, "left_semi").select(
        "u", F.col("x").alias("d")
    )
    affected = lostn.select("u").distinct()
    keptn = (
        live.join(dl, live.x == dl._did, "left_anti")
        .join(affected, "u")
        .select("u", "x")
    )
    # patch candidates: the deleted neighbor's own surviving out-edges
    candn = (
        lostn.join(
            g.select(F.col("q").alias("d"), F.col("n").alias("x")), "d"
        )
        .join(dl, F.col("x") == dl._did, "left_anti")
        .filter(F.col("x") != F.col("u"))
        .select("u", "x")
    )
    pool = keptn.unionByName(candn).distinct()
    c = emb.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(vec_col, dim).alias("nv"),
    ).transform(cut_lineage_lazy)  # consumed 2x: both score sides
    cu = c.select(
        F.col("id").alias("u"), F.col("v").alias("vu"),
        F.col("nv").alias("nu"),
    )
    cx = c.select(
        F.col("id").alias("x"), F.col("v").alias("vx"),
        F.col("nv").alias("nx"),
    )
    cos = F.try_divide(
        dot("vu", "vx", dim), F.col("nu") * F.col("nx")
    )
    sc = (
        pool.join(cu, "u")
        .join(cx, "x")
        .select(
            "u", "x",
            F.floor(F.round(cos, 6) * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("cmicro"),
        )
    )
    w = W.partitionBy("u").orderBy(F.desc("cmicro"), F.asc("x"))
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("u", "x", "cmicro", F.col("rank").cast("int").alias("rank"))
    )


def knn_graph_insert(
    graph: DataFrame,
    base: DataFrame,
    delta: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 64,
) -> tuple[DataFrame, DataFrame]:
    """Search-based INSERT for a persisted k-NN graph index (the
    DiskANN/FreshDiskANN insert rule): each new vector finds seed
    entry points via the SAME sign-LSH tables the graph was built
    from (delta buckets probe the base's capped bucket members — a
    delta-vs-base equi-join, never a scan), expands one hop over the
    existing graph (a seed's out-neighbors are candidates too), and
    exact-re-ranks the candidate set to its top-``k`` out-edges.
    Reverse-edge maintenance then patches each TOUCHED base node: its
    new adjacency is the exact top-``k`` of (its old out-edges) ∪
    (new nodes that linked to it) — so inserted vectors become
    reachable without rebuilding anything (the l70/l79/l86
    incremental-maintenance contract, here for the graph family).
    ``graph`` (query_id, neighbor_id) is read twice, so callers pass
    it persisted (the session store's graph is).

    Returns ``(inserted, patched)``: the new nodes' adjacency
    (did, x, cmicro, rank) and the touched base nodes' re-ranked
    adjacency (u, y, cmicro, rank) — ``cmicro`` the integer
    micro-cosine (l80 smicro form), ties on neighbor id, so both
    frames replay exactly in SQL.

    Scale shape: probe volume ≤ |delta|·L·bucket_cap at ANY skew (the
    l119 occupancy-cap contract); the hop expansion multiplies by the
    fixed degree k; scoring fetches vectors by id equi-joins; the
    reverse patch touches ≤ |delta|·k base nodes, each re-ranking ≤
    k + in-degree candidates. Everything is Θ(|delta|) at fixed
    (k, L, cap) — insert cost is proportional to the batch, never the
    corpus."""
    eb, vb = _lsh_bucket_members(
        base, n_planes, n_tables, seed, dim, id_col, vec_col, bucket_cap
    )
    ed, vd = _lsh_bucket_members(
        delta, n_planes, n_tables, seed, dim, id_col, vec_col, None
    )
    if dim is None:
        dim = _infer_dim(base, vec_col)
    par = base.sparkSession.sparkContext.defaultParallelism
    seeds = (
        ed.select(F.col("id").alias("did"), "bucket")
        .repartition(par)  # the lsh_candidate_ids streamed-side spread
        .join(eb.select(F.col("id").alias("sid"), "bucket"), "bucket")
        .select("did", "sid")
        .distinct()
    )
    g = graph.select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("n")
    )  # consumed 2x: hop expansion + reverse pool
    exp = seeds.join(
        g.select(F.col("q").alias("sid"), F.col("n").alias("x")), "sid"
    ).select("did", "x")
    cand = (
        seeds.select("did", F.col("sid").alias("x"))
        .unionByName(exp)
        .distinct()
    )

    def micro(cos_col):
        return (
            F.floor(F.round(cos_col, 6) * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("cmicro")
        )

    dv = vd.select(
        F.col("id").alias("did"), F.col("v").alias("vq"),
        F.col("nv").alias("nq"),
    )
    bv = vb.select(
        F.col("id").alias("x"), F.col("v").alias("vx"),
        F.col("nv").alias("nx"),
    )
    sc = (
        cand.join(dv, "did")
        .join(bv, "x")
        .select(
            "did", "x",
            micro(F.try_divide(
                dot("vq", "vx", dim),
                F.col("nq") * F.col("nx"),
            )),
        )
    )
    wq = W.partitionBy("did").orderBy(F.desc("cmicro"), F.asc("x"))
    inserted = (
        sc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select("did", "x", "cmicro", F.col("rank").cast("int").alias("rank"))
        .transform(cut_lineage)  # consumed 2x: reverse pool + return
    )
    return inserted, _reverse_patch(g, inserted, vb, vd, k, dim)


def _reverse_patch(g, inserted, vb, vd, k, dim):
    """The reverse-edge arm shared by ``knn_graph_insert`` (batch) and
    ``knn_graph_reverse_patch`` (derived at read time from committed
    streamed insert segments): each touched base node re-ranks (its
    old out-edges) ∪ (new nodes that linked to it) to top-``k``."""
    touched = inserted.select(F.col("x").alias("u")).distinct()
    rpool = (
        g.join(touched, g.q == touched.u, "left_semi")
        .select(F.col("q").alias("u"), F.col("n").alias("y"))
        .unionByName(
            inserted.select(F.col("x").alias("u"), F.col("did").alias("y"))
        )
        .distinct()
    )
    uv = vb.select(
        F.col("id").alias("u"), F.col("v").alias("vu"),
        F.col("nv").alias("nu"),
    )
    yv = vb.unionByName(vd).select(
        F.col("id").alias("y"), F.col("v").alias("vy"),
        F.col("nv").alias("ny"),
    )
    cmicro = (
        F.floor(
            F.round(
                F.try_divide(
                    dot("vu", "vy", dim),
                    F.col("nu") * F.col("ny"),
                ),
                6,
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cmicro")
    )
    rsc = rpool.join(uv, "u").join(yv, "y").select("u", "y", cmicro)
    wu = W.partitionBy("u").orderBy(F.desc("cmicro"), F.asc("y"))
    return (
        rsc.withColumn("rank", F.row_number().over(wu))
        .filter(F.col("rank") <= k)
        .select("u", "y", "cmicro", F.col("rank").cast("int").alias("rank"))
    )


def knn_graph_reverse_patch(
    graph: DataFrame,
    inserted: DataFrame,
    base: DataFrame,
    delta: DataFrame,
    k: int = 5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Standalone reverse-edge patch over an ALREADY-COMMITTED insert
    edge set — the read-time half of streaming graph maintenance
    (st35): per-batch triggers land only their own nodes' out-edges
    (batch-local, replay-safe through the epoch sink), and the
    touched base nodes' re-rank is DERIVED here from base graph ∪ all
    committed segments — so stream-append ≡ batch-append by
    construction (the st15 mergeable-partial-state pattern). Same
    semantics, micro-scores, and tie-breaks as the batch arm inside
    ``knn_graph_insert`` (shared ``_reverse_patch``)."""
    if dim is None:
        dim = _infer_dim(base, vec_col)

    def prep(emb):
        return emb.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        ).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(vec_col, dim).alias("nv"),
        )

    g = graph.select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("n")
    )
    return _reverse_patch(g, inserted, prep(base), prep(delta), k, dim)
