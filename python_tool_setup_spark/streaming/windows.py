"""Event-time windowed aggregation + streaming dedup (T4/T5).

These builders work on BOTH batch and streaming DataFrames (Spark's
unified semantics) — tests assert batch/stream result equivalence, the
same check the driver's oracle applies to the batch shape.

Watermarks bound state: at 100 TB/day of events the watermark is what
lets Spark evict per-window state instead of growing without bound;
``dropDuplicatesWithinWatermark`` likewise bounds dedup state to the
watermark horizon.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _with_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    return df.withWatermark(ts_col, watermark) if watermark else df


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Non-overlapping event-time windows (T4)."""
    src = _with_watermark(df, ts_col, watermark)
    return src.groupBy(F.window(ts_col, duration).alias("window"), *group_cols).agg(
        *aggs
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Dynamic-width session windows closed by ``gap`` of inactivity."""
    src = _with_watermark(df, ts_col, watermark)
    return src.groupBy(
        F.session_window(ts_col, gap).alias("window"), *group_cols
    ).agg(*aggs)


def streaming_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Exactly-once-per-key stream (T5). With a watermark the state is
    bounded (dropDuplicatesWithinWatermark); without, state grows with
    distinct keys — only safe for bounded key domains."""
    if watermark and ts_col:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))
