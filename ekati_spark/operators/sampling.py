"""Deterministic sampling for training-data pipelines.

All predicates hash a stable key with md5 and compare the first 8 hex
chars against a precomputed threshold string. Properties that matter at
100 TB:

- **Deterministic & reproducible**: no RNG, no seed-per-partition state;
  the same row always lands on the same side of every split, across
  reruns, retries, and engines (md5 hex is portable — the DuckDB oracles
  compute the identical predicate).
- **No shuffle**: sampling/splitting is a narrow ``filter``/``select``;
  at 100 TB it runs scan-local and composes with partition pruning.
- **Stable under appends**: membership depends only on the key, so
  growing the corpus never resamples old rows (unlike ``df.sample``,
  whose per-partition RNG re-draws when partitioning changes).

Rate precision is 1/16^8 (~6e-10). Hex-prefix comparison is valid
because '0'-'9' < 'a'-'f' in ASCII: lexicographic order on the prefix
equals numeric order of the 32-bit value.

No reference analog: Astn/ekati has no sampling surface; this is part of
the training-pipeline extension (SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    Window as W,
    functions as F,
)

_SPACE = 16**8


def _hex_prefix(key: Column, salt: str = "") -> Column:
    """First 8 hex chars of md5(salt || key) — a uniform 32-bit draw."""
    s = key.cast("string") if not salt else F.concat(F.lit(salt), key.cast("string"))
    return F.substring(F.md5(s), 1, 8)


def _threshold(rate: float) -> str:
    """Hex threshold such that P[prefix < threshold] = rate.

    rate=1.0 returns 'g' (one char past 'f'): every 8-hex-char prefix
    sorts below it, whereas the 9-char string '100000000' would sort
    below almost every prefix and silently drop ~94% of rows."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return "g"
    return format(int(rate * _SPACE), "08x")


def sample_predicate(key: Column, rate: float, salt: str = "") -> Column:
    """Boolean column: deterministically keep ~``rate`` of rows by key."""
    thr = _threshold(rate)  # validates range even when short-circuiting
    if rate >= 1.0:
        return F.lit(True)
    return _hex_prefix(key, salt) < F.lit(thr)


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Uniform deterministic sample: keep rows whose hashed key falls
    below the rate threshold."""
    return df.filter(sample_predicate(F.col(key_col), rate, salt))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep the tail): ``rates`` maps stratum value → keep rate.

    One narrow filter — the per-stratum threshold is a CASE expression,
    so no join and no shuffle; the predicate evaluates in the scan stage
    (md5 isn't a parquet-pushable filter, but it never leaves the task
    that read the row).
    """
    thr = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == value, F.lit(_threshold(rate))
        ).otherwise(thr)
    return df.filter(_hex_prefix(F.col(key_col), salt) < thr)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_rate: float = 0.05,
    test_rate: float = 0.05,
    salt: str = "split",
) -> DataFrame:
    """Assign a deterministic ``split`` column ('train'/'val'/'test').

    The salt decorrelates the split draw from any sampling draw on the
    same key (otherwise "the first 5% of hash space" would be the same
    rows in both). Row-local projection — no shuffle.
    """
    if val_rate + test_rate >= 1.0:
        raise ValueError("val_rate + test_rate must be < 1")
    h = _hex_prefix(F.col(key_col), salt)
    t_val = _threshold(val_rate)
    t_test = _threshold(val_rate + test_rate)
    split = (
        F.when(h < F.lit(t_val), F.lit("val"))
        .when(h < F.lit(t_test), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def domain_mix(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    weights: dict[str, float],
    default_weight: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Rebalance a corpus toward target domain *weights* by deterministic
    per-domain downsampling (the pre-training "data mixing" step).

    Keep rate per domain: ``rate_d = (w_d / n_d) / max_e(w_e / n_e)`` —
    the domain with the highest weight-per-row keeps everything and all
    others downsample proportionally, so the *expected* output mix is
    ``weights`` (up to domains too small to supply their share). Rates
    are data-dependent, so unlike ``stratified_sample`` they can't be
    literals: one tiny count aggregate per domain is broadcast back and
    the row predicate compares the md5 prefix against the domain's
    computed hex threshold. Scale shape: a domain-cardinality shuffle
    (#domains rows) + a broadcast join; the per-row filter stays in the
    scan stage.

    Float determinism: the rate arithmetic is double division + floor
    only (no accumulation order), so Spark and an oracle engine compute
    bit-identical thresholds from identical counts.
    """
    w = F.lit(float(default_weight))
    for value, wt in sorted(weights.items()):
        w = F.when(F.col(domain_col) == value, F.lit(float(wt))).otherwise(w)
    per = (
        df.groupBy(domain_col)
        .agg(F.count("*").alias("n"))
        .select(domain_col, (w / F.col("n")).alias("wn"))
    )
    mx = per.agg(F.max("wn").alias("mx"))
    thr = (
        per.crossJoin(F.broadcast(mx))
        .select(domain_col, (F.col("wn") / F.col("mx")).alias("rate"))
        .select(
            domain_col,
            F.when(F.col("rate") >= 1.0, F.lit("g"))
            .otherwise(
                F.format_string(
                    "%08x",
                    F.floor(F.col("rate") * F.lit(float(_SPACE))).cast(
                        "bigint"
                    ),
                )
            )
            .alias("thr"),
        )
    )
    return df.join(F.broadcast(thr), domain_col).filter(
        _hex_prefix(F.col(key_col), salt) < F.col("thr")
    )


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    return int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )


def _pinned(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    bucket_col: Column | None = None,
) -> DataFrame:
    """``df`` plus ``_pid``, a partition id monotone non-decreasing in
    the ``order_cols`` total order (every row of ``_pid`` i sorts before
    every row of ``_pid`` i+1), hash-partitioned on ``_pid`` and
    persisted.

    ``_pid`` is ``bucket_col`` when the caller has a deterministic
    monotone bucket (``global_shuffle``'s hash prefix); otherwise it is
    the partition id of a sampled ``repartitionByRange`` on the order
    columns (string keys: ``dedup.suffix_window_spans``, the weight
    line of ``weighted_systematic_sample``). The range sample is
    re-drawn per job, so the persist is what makes the offset aggregate
    and the window that consume this frame see one set of boundaries;
    for a bucket it only saves recomputing the input (a 100-TB
    deployment re-derives a narrow projection per pass instead).
    ``hashpartitioning(_pid)`` sorted on (``_pid``, *order_cols*)
    satisfies both the offset aggregate's and the window's clustering
    and ordering, so neither consumer re-shuffles or re-sorts the
    cache."""
    if bucket_col is None:
        df = df.repartitionByRange(n, *order_cols)
        bucket_col = F.spark_partition_id()
    return (
        df.withColumn("_pid", bucket_col.cast("long"))
        .repartition(n, F.col("_pid"))
        .sortWithinPartitions("_pid", *order_cols)
        .persist()
    )


def _offsets(
    pinned: DataFrame, weight: Column, **per_partition: Column
) -> DataFrame:
    """``(_pid, _off, *per_partition)``: ``_off`` is the exclusive
    running sum of ``weight`` over the ``_pid`` order, each partition's
    start on the global line (a row count for ``weight = 1``);
    ``per_partition`` names extra aggregates over each ``_pid``.

    A per-``_pid`` aggregate and a running-sum window over its
    #partitions rows, broadcast back on ``_pid`` by the caller: no
    driver round-trip and a constant-size plan, so the offsets fold
    into the caller's one action. Replaying collected offsets as a
    literal frame instead re-analyzed a thousands-of-structs
    expression tree on every build (l32 measured 18.7 s at sf1 against
    sub-3 s)."""
    per = pinned.groupBy("_pid").agg(
        F.sum(weight).alias("_s"),
        *[c.alias(name) for name, c in per_partition.items()],
    )
    before = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    return per.withColumn(
        "_off", F.coalesce(F.sum("_s").over(before), F.lit(0))
    ).drop("_s")


def _total(df: DataFrame, col: Column):
    """``sum(col)`` over ``df`` in one Spark job with no shuffle: an
    Observation rides a noop write and the tasks' partial sums merge on
    the driver (``agg().first()`` runs a shuffle map job and a result
    job under AQE)."""
    obs = Observation()
    (
        df.select(col.alias("_v"))
        .observe(obs, F.sum("_v").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return obs.get["s"]


def weighted_systematic_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic size-proportional sampling (systematic/PPS): lay the
    rows end-to-end on a weight line in canonical ``key_col`` order and
    take the ``k`` evenly spaced points ``j·W/k`` (j=0..k-1, W = total
    weight). A row occupying ``[cum, cum+w)`` is picked
    ``floor(k·(cum+w)/W) − floor(k·cum/W)`` times — integer arithmetic
    only, so the draw is exact, reproducible across engines, and the
    total pick count is exactly ``k``. Heavy rows (w > W/k) are picked
    multiple times (``n_picks`` is the multiplicity — the caller decides
    clamp-vs-repeat), which is the correct PPS semantics for building
    e.g. a token-budget-proportional eval slice.

    Scale shape (the reason this isn't one ``row_number`` window): the
    prefix sum is two-level — range-partition by key (``_pinned``),
    per-partition weight offsets (``_offsets``), and a
    partition-local window adds the within-partition prefix. No
    single-partition global window and no driver round-trip for the
    offsets. The one eager job is the total weight ``W``: the pick
    formula needs it as a literal, and a non-positive total raises
    ``ValueError`` here instead of dividing by zero in the action.
    Intermediate products ``k·cum`` stay in int64 — safe while
    ``k·W < 2^63`` (true for any corpus where W counts chars/tokens and
    k ≤ ~1e5; switch the two products to ``decimal(38,0)`` past that).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight_col).cast("bigint")
    total = _total(df, w) or 0
    if total <= 0:
        raise ValueError("total weight must be positive")
    rng = _pinned(
        df.withColumn("_w", w), [key_col], _num_partitions(df, num_partitions)
    )
    win = (
        W.partitionBy("_pid")
        .orderBy(key_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("_w").over(win), F.lit(0)) + F.col("_off")
    picks = F.expr(f"(({k} * (_cum + _w)) div {total})") - F.expr(
        f"(({k} * _cum) div {total})"
    )
    return (
        rng.join(F.broadcast(_offsets(rng, F.col("_w"))), "_pid")
        .withColumn("_cum", cum)
        .withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .drop("_w", "_pid", "_off", "_cum")
    )


def global_shuffle(
    df: DataFrame,
    key_col: str,
    salt: str = "shuf",
    num_partitions: int | None = None,
    stage_col: str | None = None,
) -> DataFrame:
    """Deterministic global shuffle: every row gets a stable 1-based
    ``pos`` in the order of ``md5(salt || key)`` (ties broken by key) —
    the "shuffle the corpus before training" step, reproducible across
    reruns and engines because the permutation is a hash order, not RNG.
    NULL keys hash to NULL and sort first (positions 1..#nulls).

    ``stage_col`` (curriculum use, l51) names a non-negative integer
    column; the order becomes (stage, hash, key): stages in ascending
    order, a deterministic shuffle within each. Stages are few: each
    one adds ``m`` rows (below) to the broadcast offset frame. A NULL
    or negative stage fails the action.

    Scale shape: ``ordered_row_number`` over an analytic bucket, never
    a single-partition window. The sort key within a stage IS a uniform
    hash, so the range boundaries are known without sampling: bucket
    ``stage·m + i`` covers the stage's hash prefixes [i/m, (i+1)/m) of
    the 40-bit keyspace. Lowercase-hex lexicographic order equals the
    prefix's numeric order, so the bucket is monotone in the
    (stage, hash, key) total order, and no range exchange or boundary
    job runs.
    """
    n = _num_partitions(df, num_partitions)
    # 64 buckets per partition (guide §2.5: many more distinct bucket
    # values than partitions, so the hash layout stays even), capped so
    # value*m stays in int64 against the 40-bit prefix (10 hex chars);
    # integer div keeps the mapping exact end-to-end. A NULL key's hash
    # is NULL and sorts first, so it goes to its stage's first bucket.
    m = min(64 * n, 1 << 22)
    stage = F.lit(0) if stage_col is None else F.col(stage_col).cast("bigint")
    stage = F.when(stage >= 0, stage).otherwise(
        F.raise_error(F.lit(f"global_shuffle: NULL or negative {stage_col}"))
    )
    bucket = F.expr(
        f"_s * {m} + coalesce(cast(conv(substring(_h, 1, 10), 16, 10)"
        f" as bigint) * {m} div 1099511627776, 0)"  # 2^40
    )
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return ordered_row_number(
        df.withColumn("_s", stage).withColumn("_h", h),
        ["_s", "_h", key_col],
        out_col="pos",
        drop_cols=["_s", "_h"],
        num_partitions=n,
        bucket_col=bucket,
    )


def ordered_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "pos",
    drop_cols: list[str] | None = None,
    num_partitions: int | None = None,
    neighbor_col: str | None = None,
    bucket_col: Column | None = None,
) -> DataFrame:
    """Distributed ``row_number() OVER (ORDER BY order_cols)``: a stable
    1-based ``out_col`` in the total order of ``order_cols`` (which must
    be a total order — include a unique tie-break key).

    Scale shape: a naive global-ORDER-BY window collapses into ONE
    window partition. Instead the rows are laid out on ``_pid``
    partitions monotone in the order (``_pinned``), each partition's
    row offset comes from a distributed running count (``_offsets``),
    broadcast back on ``_pid``, and ``out_col = offset + local
    row_number`` over a window PARTITIONED by ``_pid``. Building the
    frame fires no Spark job; the offsets run inside the caller's
    action. Every stage is JVM-side (the first version Arrow-assigned
    the index and paid the pandas conversion of every payload column
    on every consumption — ~3× the job cost when rows carry token
    arrays, ``suffix_window_spans`` at sf1). ``drop_cols`` lets callers
    discard sort-only helper columns.

    The partitioner is the one choice. ``bucket_col`` is a
    caller-supplied DETERMINISTIC bucket, monotone non-decreasing in
    the ``order_cols`` total order (``global_shuffle``'s hash prefix);
    without it the layout is a sampled ``repartitionByRange`` on the
    order columns (the suffix-array sort's string keys have no analytic
    boundary).

    ``neighbor_col`` additionally emits ``<neighbor_col>_next`` /
    ``<neighbor_col>_prev`` — that column's value on the global-order
    successor/predecessor row (NULL at the two ends of the total
    order). Within a partition these are a lead/lag over the SAME
    window the row number already pays for (no new exchange, no
    self-join); across partitions, the offset aggregate also carries
    each partition's first and last value, and a lead/lag over its
    #partitions rows hands them to the neighboring partitions'
    boundary rows. No adjacent-pair self-join on ``out_col`` (it
    re-shuffled the whole sorted frame once per join side) and no
    fix-up join keyed on it (each recomputed the window and the
    offsets; AQE reused neither). It takes the range layout only: no
    caller needs a bucket layout with neighbors, and that pairing is
    untested.
    """
    drop_cols = drop_cols or []
    if bucket_col is not None and neighbor_col is not None:
        raise ValueError("bucket_col and neighbor_col cannot be combined")
    rng = _pinned(
        df, order_cols, _num_partitions(df, num_partitions), bucket_col
    )
    w = W.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    if neighbor_col is None:
        return (
            rng.join(F.broadcast(_offsets(rng, F.lit(1))), "_pid")
            .withColumn(out_col, F.row_number().over(w) + F.col("_off"))
            .drop("_pid", "_off", *drop_cols)
        )
    # Each partition's first and last neighbor value ride the offset
    # aggregate; over the #partitions-row frame (empty partitions have
    # no row), the next partition's first value is the successor of
    # this partition's last row, the previous partition's last value
    # the predecessor of this partition's first row.
    order = F.struct(*order_cols)
    by_pid = W.orderBy("_pid")
    off = _offsets(
        rng,
        F.lit(1),
        _head=F.min_by(neighbor_col, order),
        _tail=F.max_by(neighbor_col, order),
    ).select(
        "_pid",
        "_off",
        F.lead("_head").over(by_pid).alias("_bnd_n"),
        F.lag("_tail").over(by_pid).alias("_bnd_p"),
    )
    # partition-LAST rows are those with no row after them in the
    # window — not `lead(neighbor) IS NULL`, which a NULL neighbor
    # value also produces.
    rn = F.row_number().over(w)
    last = F.lead(F.lit(1)).over(w).isNull()
    return (
        rng.join(F.broadcast(off), "_pid")
        .select(
            "*",
            (rn + F.col("_off")).alias(out_col),
            F.when(last, F.col("_bnd_n"))
            .otherwise(F.lead(neighbor_col).over(w))
            .alias(f"{neighbor_col}_next"),
            F.when(rn == 1, F.col("_bnd_p"))
            .otherwise(F.lag(neighbor_col).over(w))
            .alias(f"{neighbor_col}_prev"),
        )
        .drop("_pid", "_off", "_bnd_n", "_bnd_p", *drop_cols)
    )
