"""Round-5 gates, batch 154: ratio-to-moving-average seasonal
decomposition (q519 — the classical forecasting prep: a centered
12-month moving average isolates trend, the month's ratio to its
trend isolates season, and averaging ratios by month-of-year gives
the seasonal index every demand plan divides out; the centered MA
is the q479 bounded-kernel expansion, so nothing sequential
survives) and chi-square cell residuals (q520 — the diagnostic
AFTER a significant chi-square: standardized residuals
(obs - exp)/sqrt(exp) per cell say WHICH cells drive the
dependence; |r| > 2 is the conventional callout — the drill-down
q410 goodness-of-fit and q515 MI both stop short of).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


@register(
    "q519_seasonal_decomposition",
    """
    WITH m AS (
        SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
                   AS idx,
               MONTH(o_orderdate) AS moy,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents
        FROM orders GROUP BY 1, 2
    ),
    -- centered 12-month MA: offsets -6..+5 plus the half-weight
    -- endpoints convention simplified to a plain 12-window mean
    contrib AS (
        SELECT m.idx + o.off AS tgt, m.cents
        FROM m CROSS JOIN (
            SELECT UNNEST(RANGE(-5, 7)) AS off
        ) o
    ),
    ma AS (
        SELECT tgt AS idx, COUNT(*) AS k, SUM(cents) AS s
        FROM contrib GROUP BY tgt
    ),
    ratio AS (
        SELECT m.moy,
               CAST(ROUND(CAST(m.cents AS DOUBLE) * ma.k * 1000000
                   / ma.s) AS BIGINT) AS ratio_micro
        FROM m JOIN ma ON ma.idx = m.idx
        WHERE ma.k = 12
    )
    SELECT CAST(moy AS BIGINT) AS month_of_year,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           CAST(ROUND(AVG(ratio_micro)) AS BIGINT)
               AS seasonal_index_micro,
           CAST(MIN(ratio_micro) AS BIGINT) AS min_ratio_micro,
           CAST(MAX(ratio_micro) AS BIGINT) AS max_ratio_micro,
           ABS(ROUND(AVG(ratio_micro)) - 1000000) > 50000
               AS seasonal_month
    FROM ratio GROUP BY moy ORDER BY month_of_year
    """,
    doc="Ratio-to-moving-average seasonal decomposition (classical "
    "forecasting prep: the centered 12-month MA isolates trend, "
    "each month's ratio to its trend isolates season, and the "
    "per-month-of-year average ratio is the seasonal index a "
    "demand plan divides out; months flagged seasonal beyond "
    "+/-5%): the monthly series comes from one groupBy; the "
    "centered MA is the q479 bounded-kernel expansion (each "
    "month contributes to its 12 neighbors, one re-aggregation — "
    "nothing sequential); per-month ratios micro-quantized from "
    "exact integers BEFORE the month-of-year average (an integer "
    "mean, FP-order-free), edges without a full 12-month window "
    "excluded exactly as the textbook method does. Scale: one "
    "scan + month-domain metadata.",
)
def q519_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("idx"),
        F.month("o_orderdate").alias("moy"),
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    off = spark.range(-5, 7).select(
        F.col("id").cast("int").alias("off")
    )
    contrib = m.crossJoin(F.broadcast(off)).select(
        (F.col("idx") + F.col("off")).alias("tgt"), "cents"
    )
    ma = contrib.groupBy(F.col("tgt").alias("idx")).agg(
        F.count(F.lit(1)).alias("k"), F.sum("cents").alias("s")
    )
    ratio = (
        m.join(ma, "idx")
        .filter(F.col("k") == 12)
        .select(
            "moy",
            F.round(
                F.col("cents").cast("double")
                * F.col("k")
                * 1000000
                / F.col("s")
            )
            .cast("long")
            .alias("ratio_micro"),
        )
    )
    idx = F.round(F.avg("ratio_micro"))
    return (
        ratio.groupBy(F.col("moy").cast("long").alias("month_of_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_years"),
            idx.cast("long").alias("seasonal_index_micro"),
            F.min("ratio_micro").cast("long").alias(
                "min_ratio_micro"
            ),
            F.max("ratio_micro").cast("long").alias(
                "max_ratio_micro"
            ),
            (F.abs(idx - 1000000) > 50000).alias("seasonal_month"),
        )
        .orderBy("month_of_year")
    )


# ---------------------------------------------------------------- q520
# standardized residual, milli-quantized from exact integer counts:
# r = (o - n_x*n_y/n) / sqrt(n_x*n_y/n)
_RESID_MILLI_EXPR = (
    "CAST(ROUND((n_xy - CAST(nx AS DOUBLE) * ny / n)"
    " / SQRT(CAST(nx AS DOUBLE) * ny / n) * 1000) AS BIGINT)"
)


@register(
    "q520_chisq_cell_residuals",
    f"""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               COUNT(*) AS n_xy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(n_xy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, SUM(n_xy) AS ny FROM joint GROUP BY y),
    tot AS (SELECT SUM(n_xy) AS n FROM joint)
    SELECT j.x AS priority, j.y AS status,
           CAST(j.n_xy AS BIGINT) AS observed,
           CAST(ROUND(CAST(nx AS DOUBLE) * ny / n) AS BIGINT)
               AS expected,
           {_RESID_MILLI_EXPR} AS std_residual_milli,
           ABS({_RESID_MILLI_EXPR}) > 2000 AS notable_cell
    FROM joint j
    JOIN mx ON mx.x = j.x JOIN my ON my.y = j.y
    CROSS JOIN tot
    ORDER BY priority, status
    """,
    doc="Chi-square cell residuals (the drill-down AFTER a "
    "significant dependence test: standardized residuals "
    "(obs - exp)/sqrt(exp) per contingency cell identify WHICH "
    "cells drive it, |r| > 2 being the conventional callout — "
    "q410's goodness-of-fit and q515's MI report one number; "
    "this reports the map): joint histogram from one groupBy, "
    "margins re-aggregated from the joint, residuals milli-"
    "quantized through shared expression text from exact integer "
    "counts. Scale: one scan + cell-domain metadata (15 rows "
    "here; bounded by the attribute domains at any data size).",
)
def q520_chisq_cell_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Bounded priority x status cell table read by both margins, the
    # total and the residual join: pin it so orders is scanned once.
    joint = pin(
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        ).agg(F.count(F.lit(1)).alias("n_xy"))
    )
    mx = joint.groupBy("x").agg(F.sum("n_xy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("n_xy").alias("ny"))
    tot = joint.agg(F.sum("n_xy").alias("n"))
    return (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("x").alias("priority"),
            F.col("y").alias("status"),
            F.col("n_xy").cast("long").alias("observed"),
            F.round(
                F.col("nx").cast("double") * F.col("ny") / F.col("n")
            )
            .cast("long")
            .alias("expected"),
            F.expr(_RESID_MILLI_EXPR).alias("std_residual_milli"),
            (F.abs(F.expr(_RESID_MILLI_EXPR)) > 2000).alias(
                "notable_cell"
            ),
        )
        .orderBy("priority", "status")
    )
