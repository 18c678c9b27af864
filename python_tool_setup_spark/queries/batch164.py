"""Round-5 gates, batch 164: p-chart (q539 — statistical process
control for PROPORTIONS: daily urgent-order share against 3-sigma
binomial limits around the grand proportion; the chart that
catches a mix drift q479's EWMA-of-levels and q490's CUSUM don't
look at) and Xbar-R chart (q540 — the classic variables-control
pair: weekly subgroups of daily revenue, subgroup means charted
against A2*Rbar limits and subgroup ranges against D3/D4*Rbar
limits, with the n=7 control constants inlined as literals — the
shop-floor SPC method, verbatim, over warehouse data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# p-chart 3-sigma limit, ppm-quantized from exact integers (pbar and
# the per-day sigma depend only on integer counts).
_P_LIMIT_EXPR = (
    "CAST(ROUND(3 * SQRT((CAST(r AS DOUBLE) / n)"
    " * (1 - CAST(r AS DOUBLE) / n) / nd) * 1000000) AS BIGINT)"
)


@register(
    "q539_p_chart",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               COUNT(*) AS nd,
               SUM(CASE WHEN o_orderpriority IN
                   ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS rd
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(nd) AS n, SUM(rd) AS r FROM daily),
    lim AS (
        SELECT d, nd, rd,
               CAST(ROUND(rd * 1000000.0 / nd) AS BIGINT) AS p_ppm,
               CAST(ROUND(t.r * 1000000.0 / t.n) AS BIGINT)
                   AS pbar_ppm,
               {_P_LIMIT_EXPR} AS limit_ppm
        FROM daily CROSS JOIN tot t
    ),
    flags AS (
        SELECT *,
               ABS(p_ppm - pbar_ppm) > limit_ppm AS out_of_control
        FROM lim
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(pbar_ppm) AS BIGINT) AS pbar_ppm,
           CAST(SUM(CASE WHEN out_of_control THEN 1 ELSE 0 END)
               AS BIGINT) AS n_out_of_control,
           CAST(ROUND(SUM(CASE WHEN out_of_control THEN 1 ELSE 0
               END) * 1000000.0 / COUNT(*)) AS BIGINT)
               AS ooc_ppm,
           ROUND(SUM(CASE WHEN out_of_control THEN 1 ELSE 0 END)
               * 1000000.0 / COUNT(*)) < 20000 AS process_in_control
    FROM flags
    """,
    doc="p-chart (SPC for proportions: each day's urgent-order "
    "share vs 3-sigma binomial limits around the grand "
    "proportion, with per-day limits widening for small days — "
    "the mix-drift monitor the level charts q479/q490 don't "
    "cover): daily 2-cell counts from one conditional aggregate, "
    "the grand proportion broadcast back, limits ppm-quantized "
    "through shared integer-input expression text, and the "
    "summary verdict requires <2% out-of-control days (the "
    "~0.3%-per-side false-alarm rate of 3-sigma limits leaves "
    "wide margin on an in-control process). Scale: one scan + "
    "day-domain metadata.",
)
def q539_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("long")
        ).alias("rd"),
    )
    tot = daily.agg(
        F.sum("nd").alias("n"), F.sum("rd").alias("r")
    )
    lim = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "nd",
        "rd",
        F.round(F.col("rd") * 1000000.0 / F.col("nd"))
        .cast("long")
        .alias("p_ppm"),
        F.round(F.col("r") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("pbar_ppm"),
        F.expr(_P_LIMIT_EXPR).alias("limit_ppm"),
    )
    flags = lim.select(
        "*",
        (
            F.abs(F.col("p_ppm") - F.col("pbar_ppm"))
            > F.col("limit_ppm")
        ).alias("out_of_control"),
    )
    ooc = F.sum(F.col("out_of_control").cast("long"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("pbar_ppm").cast("long").alias("pbar_ppm"),
        ooc.cast("long").alias("n_out_of_control"),
        F.round(ooc * 1000000.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("ooc_ppm"),
        (
            F.round(ooc * 1000000.0 / F.count(F.lit(1))) < 20000
        ).alias("process_in_control"),
    )


# ---------------------------------------------------------------- q540
# Shewhart control-chart constants for subgroup size n=7, micro-
# quantized literals (A2, D3, D4 from the standard SPC tables).
_XBARR_N = 7
_A2_MICRO = 419_000
_D3_MICRO = 76_000
_D4_MICRO = 1_924_000


@register(
    "q540_xbar_r_chart",
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents
        FROM orders GROUP BY 1
    ),
    sub AS (
        SELECT CAST(FLOOR(DATEDIFF('day', DATE '1995-01-01', d)
                   * 1.0 / {_XBARR_N}) AS BIGINT) AS grp,
               COUNT(*) AS k,
               CAST(ROUND(AVG(cents)) AS BIGINT) AS xbar,
               MAX(cents) - MIN(cents) AS rng
        FROM daily GROUP BY 1
        HAVING COUNT(*) = {_XBARR_N}
    ),
    centers AS (
        SELECT CAST(ROUND(AVG(xbar)) AS BIGINT) AS xbarbar,
               CAST(ROUND(AVG(rng)) AS BIGINT) AS rbar,
               COUNT(*) AS n_sub
        FROM sub
    ),
    flags AS (
        SELECT s.grp, s.xbar, s.rng, c.xbarbar, c.rbar, c.n_sub,
               ABS(s.xbar - c.xbarbar) * 1000000
                   > CAST({_A2_MICRO} AS HUGEINT) * c.rbar
                   AS xbar_ooc,
               s.rng * 1000000 > CAST({_D4_MICRO} AS HUGEINT) * c.rbar
                   OR s.rng * 1000000
                      < CAST({_D3_MICRO} AS HUGEINT) * c.rbar
                   AS range_ooc
        FROM sub s CROSS JOIN centers c
    )
    SELECT CAST(MAX(n_sub) AS BIGINT) AS n_subgroups,
           CAST(MAX(xbarbar) AS BIGINT) AS center_cents,
           CAST(MAX(rbar) AS BIGINT) AS rbar_cents,
           CAST(SUM(CASE WHEN xbar_ooc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_xbar_ooc,
           CAST(SUM(CASE WHEN range_ooc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_range_ooc,
           SUM(CASE WHEN xbar_ooc THEN 1 ELSE 0 END) * 50
               < MAX(n_sub) AS xbar_in_control
    FROM flags
    """,
    doc="Xbar-R chart (the classic variables SPC pair: weekly "
    "subgroups of daily revenue, subgroup means vs "
    "xbarbar +/- A2*Rbar and subgroup ranges vs D3/D4*Rbar, with "
    "the n=7 Shewhart constants micro-quantized literals — the "
    "shop-floor method verbatim over warehouse data, completing "
    "the SPC family with q539's p-chart, q479's EWMA and q490's "
    "CUSUM): daily totals from one scan, fixed-calendar "
    "subgroups (integer DATEDIFF DIV — deterministic, no "
    "sessionization), incomplete edge subgroups dropped as the "
    "method requires, every comparison cross-multiplied in "
    "exact integers (HUGEINT/DECIMAL against the micro "
    "constants). Scale: one scan + subgroup-domain metadata.",
)
def q540_xbar_r_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    sub = (
        daily.groupBy(
            F.floor(
                F.datediff(F.col("d"), F.lit("1995-01-01"))
                * 1.0
                / _XBARR_N
            )
            .cast("long")
            .alias("grp")
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.round(F.avg("cents")).cast("long").alias("xbar"),
            (F.max("cents") - F.min("cents")).alias("rng"),
        )
        .filter(F.col("k") == _XBARR_N)
    )
    centers = sub.agg(
        F.round(F.avg("xbar")).cast("long").alias("xbarbar"),
        F.round(F.avg("rng")).cast("long").alias("rbar"),
        F.count(F.lit(1)).alias("n_sub"),
    )
    flags = sub.crossJoin(F.broadcast(centers)).select(
        "grp",
        "xbar",
        "rng",
        "xbarbar",
        "rbar",
        "n_sub",
        (
            F.abs(F.col("xbar") - F.col("xbarbar")).cast(
                "decimal(38,0)"
            )
            * 1000000
            > F.lit(_A2_MICRO).cast("decimal(38,0)") * F.col("rbar")
        ).alias("xbar_ooc"),
        (
            (
                F.col("rng").cast("decimal(38,0)") * 1000000
                > F.lit(_D4_MICRO).cast("decimal(38,0)")
                * F.col("rbar")
            )
            | (
                F.col("rng").cast("decimal(38,0)") * 1000000
                < F.lit(_D3_MICRO).cast("decimal(38,0)")
                * F.col("rbar")
            )
        ).alias("range_ooc"),
    )
    return flags.agg(
        F.max("n_sub").cast("long").alias("n_subgroups"),
        F.max("xbarbar").cast("long").alias("center_cents"),
        F.max("rbar").cast("long").alias("rbar_cents"),
        F.sum(F.col("xbar_ooc").cast("long"))
        .cast("long")
        .alias("n_xbar_ooc"),
        F.sum(F.col("range_ooc").cast("long"))
        .cast("long")
        .alias("n_range_ooc"),
        (
            F.sum(F.col("xbar_ooc").cast("long")) * 50
            < F.max("n_sub")
        ).alias("xbar_in_control"),
    )
