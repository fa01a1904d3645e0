"""As-of (most-recent-at-or-before) joins.

Spark has no native ASOF JOIN (DuckDB/Pandas do). Two strategies:

- ``asof_join``: conditional equi-join on the key + time inequality, then
  argmax-by-time per left row. One shuffle per side on the join key; the
  argmax is a partial (map-side) aggregate, so at 100 TB this behaves like
  any keyed join+agg — AQE handles skewed keys. Exact, no driver state.
- ``asof_join_union``: the union+window strategy (tag both sides, sort by
  (key, time) within partitions, ``last(right, ignorenulls)`` over the
  preceding frame). Single shuffle total; preferable when the right side
  is large relative to left and match density is high.

Both return one row per left row (left-outer as-of semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_time <= left_time`` (direction='backward') or smallest
    ``right_time >= left_time`` ('forward') within the same key.

    ``tolerance``: optional SQL interval literal (e.g. ``"30 days"``)
    bounding the match window — a backward match must also satisfy
    ``right_time >= left_time - tolerance`` (mirrored for forward).
    Left rows with no in-window match keep NULL right columns (the
    pandas ``merge_asof(tolerance=...)`` contract). The bound also
    matters at 100 TB: it lets a range-partitioned deployment co-locate
    only tolerance-width time slices instead of whole key histories.

    Ties on right_time collapse via max over remaining right columns
    (deterministic; document for callers needing a specific tiebreak).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")

    lcols = left.columns
    rcols = [c for c in right.columns if c not in (right_on,)]
    # a synthetic row id keeps DUPLICATE left rows distinct through the
    # argmax groupBy (grouping by the visible columns alone would merge
    # them, losing cardinality). The id value never reaches the output,
    # so its nondeterminism across retries is harmless.
    left = left.withColumn("__lrow", F.monotonically_increasing_id())
    l = left.alias("l")
    r = right.alias("r")
    time_cond = (
        F.col(f"r.{right_time}") <= F.col(f"l.{left_time}")
        if direction == "backward"
        else F.col(f"r.{right_time}") >= F.col(f"l.{left_time}")
    )
    if tolerance is not None:
        bound = (
            F.col(f"r.{right_time}")
            >= F.expr(f"l.{left_time} - INTERVAL {tolerance}")
            if direction == "backward"
            else F.col(f"r.{right_time}")
            <= F.expr(f"l.{left_time} + INTERVAL {tolerance}")
        )
        time_cond = time_cond & bound
    joined = l.join(
        r, (F.col(f"l.{left_on}") == F.col(f"r.{right_on}")) & time_cond, "left"
    )
    # argmax/argmin by right_time per left row: max(struct(time, cols)).
    order_key = F.col(f"r.{right_time}")
    if direction == "forward":
        # min == max of negated ordering; use a struct sort on the raw time
        # with min aggregation instead.
        best = F.min(F.struct(order_key.alias("__t"), *[F.col(f"r.{c}").alias(c) for c in rcols]))
    else:
        best = F.max(F.struct(order_key.alias("__t"), *[F.col(f"r.{c}").alias(c) for c in rcols]))
    out = joined.groupBy(
        F.col("l.__lrow").alias("__lrow"),
        *[F.col(f"l.{c}").alias(c) for c in lcols],
    ).agg(best.alias("__best"))
    return out.select(*lcols, *[F.col(f"__best.{c}").alias(c) for c in rcols])


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_value_cols: list[str] | None = None,
) -> DataFrame:
    """Union+window as-of join (backward only): one shuffle on ``on``.

    Tags rows, sorts by (key, time, is_left) and carries the last seen
    right values forward with ``last(..., ignorenulls=True)``.
    """
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in (on, right_time)
    ]
    lt = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__t", F.col(left_time)
    )
    rt = (
        # null-time right rows would sort FIRST in the window order and be
        # carried into every left row; the join strategy's time condition
        # is null-rejecting, so drop them here to keep the two equivalent
        right.filter(F.col(right_time).isNotNull())
        .select(
            F.col(on),
            F.col(right_time).alias("__t"),
            *[F.col(c) for c in right_value_cols],
        )
        .withColumn("__is_left", F.lit(0))
    )
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    for c in right_value_cols:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))
    u = lt.select(rt.columns).unionByName(rt.select(rt.columns))
    # right rows sort before left rows at equal time => "at or before".
    w = (
        W.partitionBy(on)
        .orderBy("__t", "__is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(F.when(F.col("__is_left") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"__asof_{c}")
            for c in right_value_cols
        ],
    )
    out = carried.filter(F.col("__is_left") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"__asof_{c}").alias(c) for c in right_value_cols],
    )
    return out
