"""Slowly-changing-dimension type 2 (SCD2) history maintenance.

The classic warehouse ETL pattern the reference's merge-upsert surface
(reference framework.py:211-231, whenMatchedUpdateAll /
whenNotMatchedInsertAll) stops short of: instead of overwriting a
matched row, CLOSE the old version (stamp `valid_to`) and insert the
new one, so every key keeps its full change history and any point in
time can be reconstructed with `valid_from <= t < valid_to`.

Scale shape: one shuffle per side on the business key (the same cost
class as the plain merge); history grows only by changed rows per
batch. Combine with a partitioned write on `valid_from` date so
time-slice reads prune.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN_END: str = "9999-12-31 00:00:00"


def scd2_init(updates: DataFrame, keys: Sequence[str], ts: str | Column) -> DataFrame:
    """Bootstrap an SCD2 history from a first snapshot: every row
    current from `ts` to the open-end sentinel."""
    ts_col = F.lit(ts) if isinstance(ts, str) else ts
    return updates.select(
        *updates.columns,
        ts_col.cast("timestamp").alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    track_cols: Sequence[str],
    ts: str | Column,
) -> DataFrame:
    """Apply a new snapshot batch to an SCD2 history.

    - key in updates with any `track_cols` change vs the CURRENT row →
      close the current row (`valid_to = ts`) and insert a new current
      row (`valid_from = ts`);
    - new key → insert as current;
    - unchanged key / keys absent from the batch → untouched (an
      absent key is "no news", not a delete).

    Exactly one equi-join of current rows vs the batch; closed history
    rows pass through untouched. Deterministic given deterministic
    inputs, so replaying the same batch is a fixpoint (idempotent).
    """
    ts_col = (F.lit(ts) if isinstance(ts, str) else ts).cast("timestamp")
    keys = list(keys)
    track = list(track_cols)
    cur = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))

    attr_cols = [c for c in updates.columns if c not in keys]
    u = updates.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in attr_cols],
        F.struct(*track).alias("__u_vals"),
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__u_{k}")) for k in keys]
    j = cur.join(u, cond, "full_outer")

    is_new_key = F.col("is_current").isNull()
    in_batch = F.col("__u_vals").isNotNull()
    differs = in_batch & ~F.struct(*track).eqNullSafe(F.col("__u_vals"))

    # surviving current rows: unchanged, or the closed version of changed
    kept_cur = j.filter(~is_new_key).select(
        *[F.col(c) for c in history.columns if c not in ("valid_to", "is_current")],
        F.when(differs, ts_col).otherwise(F.col("valid_to")).alias("valid_to"),
        F.when(differs, F.lit(False)).otherwise(F.col("is_current")).alias(
            "is_current"
        ),
    )
    fresh = j.filter(is_new_key | differs).select(
        *[F.col(f"__u_{k}").alias(k) for k in keys],
        *[F.col(f"__u_{c}").alias(c) for c in attr_cols],
        ts_col.alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(kept_cur).unionByName(fresh)
