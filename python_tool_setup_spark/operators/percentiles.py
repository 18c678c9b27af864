"""Exact percentiles over a value histogram — no per-group row
buffering.

Spark's exact ``percentile`` aggregate buffers every row of a group in
one task; at 100 TB that buffer is the job. Both functions here compute
quantile_cont from the per-(group, value) COUNT histogram of the
non-NULL values instead (NULLs are ignored and ``n`` counts the rest,
as in quantile_cont): each value's exclusive cumulative count, then the
order statistics v[floor(k)] and v[floor(k) + 1] for k = (n-1)p picked
with conditional aggregates. They differ only in how they index
v[floor(k)] and in what they return.

The exclusive prefix depends on ``group_cols``:

- grouped: a window partitioned by the groups, so per-task state is
  one group's histogram;
- ``[]``: that window would have no partition key and put the whole
  histogram in one task, so the histogram is pinned and the prefix
  comes from :func:`blockrank.prefix_agg`; ``n`` is read from the same
  pin and the picks end in a keyless aggregate.

The sketch path (``approx_percentile``) remains the default at extreme
scale; this is its exactness reference (q47/q363/q407 gates).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg


def _exact_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    pcts: dict[str, Any],
    lo_index: Callable[[Column, Any], Column],
    finish: Callable[[str, Any], Column],
) -> DataFrame:
    """One row per group: ``finish(tag, q)`` for each ``tag, q`` of
    ``pcts``, then ``n``. ``finish`` reads ``n`` and the order
    statistics ``_lo_{tag}`` / ``_hi_{tag}`` at the 0-based rank
    ``lo_index(n, q)`` and the next one (clamped to n-1).
    ``_v``/``_cnt``/``_before``/``_n`` are reserved intermediates."""
    group_cols = list(group_cols)
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    if group_cols:
        wgrp = Window.partitionBy(*group_cols)
        wcum = wgrp.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
        cum = hist.select(
            *group_cols,
            "_v",
            "_cnt",
            F.coalesce(F.sum("_cnt").over(wcum), F.lit(0)).alias("_before"),
            F.sum("_cnt").over(wgrp).alias("_n"),
        )
    else:
        hist = pin(hist)
        cum = prefix_agg(
            hist, [("_v", "asc")], {"_before": ("sum", "_cnt")}
        ).crossJoin(F.broadcast(hist.agg(F.sum("_cnt").alias("_n"))))

    def covers(i: Column) -> Column:
        return (F.col("_before") <= i) & (i < F.col("_before") + F.col("_cnt"))

    aggs = []
    for tag, q in pcts.items():
        lo = lo_index(F.col("_n"), q)
        hi = F.least(F.col("_n") - 1, lo + 1)
        aggs += [
            F.max(F.when(covers(lo), F.col("_v"))).alias(f"_lo_{tag}"),
            F.max(F.when(covers(hi), F.col("_v"))).alias(f"_hi_{tag}"),
        ]
    agg = cum.groupBy(*group_cols).agg(*aggs, F.sum("_cnt").alias("n"))
    return agg.select(
        *group_cols, *[finish(tag, q) for tag, q in pcts.items()], "n"
    )


def grouped_exact_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    pcts: dict[str, float],
) -> DataFrame:
    """Return one row per group (one row in all for ``[]``): the
    requested percentiles (alias -> p in [0, 1]), each interpolated as
    ``v_lo + frac * (v_hi - v_lo)`` — the formula both Spark and DuckDB
    use, so results agree to the last ulp — plus ``n``.
    ``_v``/``_cnt``/``_before``/``_n`` and ``_lo_*``/``_hi_*`` are
    reserved intermediates."""

    def k(n: Column, p: float) -> Column:
        return (n - 1).cast("double") * F.lit(p)

    def interpolate(tag: str, p: float) -> Column:
        kn = k(F.col("n"), p)
        frac = kn - F.floor(kn).cast("long").cast("double")
        lo, hi = F.col(f"_lo_{tag}"), F.col(f"_hi_{tag}")
        return (lo + frac * (hi - lo)).alias(tag)

    return _exact_quantiles(
        df,
        group_cols,
        value_col,
        pcts,
        lambda n, p: F.floor(k(n, p)).cast("long"),
        interpolate,
    )


def grouped_exact_percentiles_frac(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    pcts: dict[str, tuple[int, int]],
) -> DataFrame:
    """Exact-rational QUANTILE_CONT over an INTEGER value column.

    ``pcts`` maps alias -> (a, b) for quantile a/b. Per group the
    continuous quantile is value[k] + r/b * (value[k+1] - value[k])
    with (n-1)*a = k*b + r — so b * quantile is the exact INTEGER
    ``lo*(b-r) + hi*r``, returned as ``{tag}_num`` (the caller divides
    by b / rounds half-up as ``(num + b//2) DIV b``).

    Why this exists (r8 multi-seed catch #5, q524 on seed 5050): the
    float path computes frac = (n-1)*p - floor(...) in doubles, and a
    quantile landing exactly on a half-step tie (p = 19/20 over cent
    values hits half-millis whenever the bracketing gap is odd) then
    rounds differently per engine because the two interpolation
    doubles differ by an ulp. Integer numerators are exact on both
    engines under any partitioning.
    """

    def lo_index(n: Column, ab: tuple[int, int]) -> Column:
        a, b = ab
        kt = (n - 1) * a
        return ((kt - kt % b) / b).cast("long")

    def numerator(tag: str, ab: tuple[int, int]) -> Column:
        a, b = ab
        r = (F.col("n") - 1) * a % b
        lo = F.col(f"_lo_{tag}").cast("long")
        hi = F.col(f"_hi_{tag}").cast("long")
        return (lo * (b - r) + hi * r).alias(f"{tag}_num")

    return _exact_quantiles(df, group_cols, value_col, pcts, lo_index, numerator)
