"""As-of (most-recent-at-or-before) joins.

Spark has no native ASOF JOIN (DuckDB/pandas do). ``asof_join`` is one
union+window pass: both sides are tagged and unioned under one hash
Exchange on the key, each key's rows are sorted on time, and every left
row takes a running max (backward) or min (forward) of the right rows
sorted before it. No pair of rows is ever built and no join is planned;
one shuffle and one sort per call, whatever the match density.

Trade-off: a key's whole history, left and right rows, is sorted and
scanned in one task. A join can have a skewed key split across tasks by
AQE; this pass cannot, so one hot key sets the slowest task's time
(measured in SCALE.md).
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
    pandas ``merge_asof(tolerance=...)`` contract).

    Output: the left columns, then every right column but ``right_on``;
    one row per left row, duplicates included. NULL keys and NULL times
    on either side match nothing. Ties on right_time collapse via max
    (backward) or min (forward) over the remaining right columns.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    backward = direction == "backward"

    lcols = left.columns
    rcols = [c for c in right.columns if c != right_on]
    # time leads the struct, so its max (min) is the latest (earliest)
    # right row; the remaining columns break ties on time
    match = F.struct(F.col(right_time).alias("__t"), *rcols)
    lrows = left.select(
        F.col(left_on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
    )
    rrows = right.filter(
        F.col(right_on).isNotNull() & F.col(right_time).isNotNull()
    ).select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        match.alias("__r"),
    )
    # right rows sort before left rows at equal time, so equal times
    # match in both directions. Forward runs on descending time with the
    # same growing frame: Spark recomputes a frame that ends at
    # unboundedFollowing once per row.
    w = (
        W.partitionBy("__k")
        .orderBy(F.col("__t").asc() if backward else F.col("__t").desc(), "__side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    best = (F.max if backward else F.min)("__r").over(w)
    # the window is computed before the filter, so it sees the right rows
    rows = (
        lrows.unionByName(rrows, allowMissingColumns=True)
        .select("__side", "__l", best.alias("__b"))
        .filter(F.col("__side") == 1)
    )
    lt = F.col("__l")[left_time]
    ok = lt.isNotNull()
    if tolerance is not None:
        gap, bt = F.expr(f"INTERVAL {tolerance}"), F.col("__b")["__t"]
        ok = ok & (bt >= lt - gap if backward else bt <= lt + gap)
    return rows.select(
        *[F.col("__l")[c].alias(c) for c in lcols],
        *[F.when(ok, F.col("__b")[c]).alias(c) for c in rcols],
    )
