"""As-of and range joins.

Spark has no built-in AS OF join. The scalable pattern used here is the
union-and-carry-forward trick: tag both sides, union them, and carry the
most recent right-side row forward with a key-partitioned, time-ordered
window. Cost: ONE shuffle on the join key (same as any equi-join), no
cross product, no per-row probe — this is the shape that survives 100 TB
of events, unlike a naive ``left.join(right, cond)`` which Spark would
plan as a broadcast-nested-loop or a sort-merge with an inequality
residual scanning every right row per key.

Interval joins with no equality key are binned
(``binned_interval_join``) so Spark plans an equi-join on the bin and
applies the exact BETWEEN predicate as a residual filter per bin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the nearest right row within the same
    ``on`` key, its columns suffixed ``_right``:
    ``direction="backward"`` (default) takes the greatest
    ``right_ts <= left_ts`` (the quote in force at event time);
    ``direction="forward"`` takes the smallest ``right_ts >= left_ts``
    (the next arrival after the event — the time-to-next-action
    shape). Equal timestamps match in both directions. Left rows with
    no candidate keep nulls (LEFT ASOF semantics).

    Implementation: union with a side tag, then one key-partitioned
    time-ordered window — ``last(ignorenulls)`` over the preceding
    frame (backward) or ``first(ignorenulls)`` over the following
    frame (forward); either way one shuffle on the key, the same cost
    class as an equi-join.

    If right timestamps can repeat within a key, pre-deduplicate the
    right side (e.g. ``dedup_by_keys``) — ties at the SAME timestamp
    have no defined winner.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    keys = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]
    value_cols = [f"{c}_right" for c in right_cols]

    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(v)
          for c, v in zip(right_cols, value_cols)],
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(v) for c, v in zip(right_cols, value_cols)],
    ).select(*l_tag.columns)  # align column order for unionByName safety

    unioned = l_tag.unionByName(r_tag)
    if direction == "backward":
        # right(0) sorts before left(1) at equal ts -> equality matches
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carry = [
            F.last(v, ignorenulls=True).over(w).alias(v) for v in value_cols
        ]
    else:
        # left(1) sorts before right(0) at equal ts -> equality matches
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carry = [
            F.first(v, ignorenulls=True).over(w).alias(v) for v in value_cols
        ]
    carried = unioned.select(
        *[c for c in unioned.columns if c not in value_cols],
        *carry,
    )
    return carried.filter(F.col("__side") == 1).drop("__ts", "__side")


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Inner interval-containment join with NO equality key, made shuffle-
    joinable by binning (the technique behind Databricks' range-join
    hint and Flink's interval join).

    Each point lands in exactly ONE ``bin_width``-sized bin; each
    interval explodes to every bin it overlaps (≤ len/width + 1 rows).
    The join is then a plain equi-join on the bin plus the exact
    BETWEEN residual — each qualifying (interval, point) pair meets in
    exactly one bin, so no post-join dedup is needed. A naive
    formulation is a BroadcastNestedLoopJoin that dies at scale; this
    one shuffles both sides once on the bin key. Columns must be
    numeric (cast timestamps to epoch units first); pick ``bin_width``
    near the typical interval length so explode fan-out stays small.

    The explode-then-residual-filter shape cannot express an outer
    join: it would drop unmatched rows (null residual) and emit
    duplicate bin rows for matched ones. For an outer interval join,
    join on the BETWEEN condition directly and broadcast the smaller
    side.
    """
    p = points.withColumn(
        "_bin", F.floor(F.col(point_col) / bin_width).cast("bigint")
    )
    i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_width).cast("bigint"),
                F.floor(F.col(end_col) / bin_width).cast("bigint"),
            )
        ),
    )
    residual = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    return i.join(p, on=["_bin"], how="inner").filter(residual).drop("_bin")
