"""Round-5 gates, batch 140: grouped weighted median (q491 — the
quantity-weighted price midpoint: half the SHIPPED UNITS lie below
it, which is what pricing/allocation actually needs when line
items carry different volumes; computed from the per-(group,
value) weight histogram with exclusive prefix weights — the q47
scale shape, never a per-group row buffer) and Kaplan-Meier
survival (q492 — the product-limit churn curve: customers enter at
their first order, churn at their last order unless it falls
inside the right-censoring horizon; S(t) = prod over event times
<= t of (1 - d_i/n_i), distributed by turning the running product
into a prefix SUM of per-term nano-quantized logs — the q476
quantize-then-integer-aggregate pattern, so FP order never touches
the result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


@register(
    "q491_grouped_weighted_median",
    """
    WITH h AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(100 * l_extendedprice) AS BIGINT) AS cents,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, cents, w,
               SUM(w) OVER (PARTITION BY grp ORDER BY cents) - w
                   AS bef,
               SUM(w) OVER (PARTITION BY grp) AS tot
        FROM h
    )
    SELECT grp,
           CAST(MIN(CASE WHEN 2 * (bef + w) >= tot THEN cents END)
               AS BIGINT) AS weighted_median_cents,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_prices
    FROM cum GROUP BY grp ORDER BY grp
    """,
    doc="Grouped weighted median (the quantity-weighted price "
    "midpoint — half the shipped units lie below it; the lower "
    "weighted median: smallest value whose inclusive cumulative "
    "weight reaches half the total, decided by integer "
    "cross-multiplication 2*(bef+w) >= tot): per-(group, value) "
    "weight histogram from one map-side-combined groupBy, "
    "exclusive prefix weights over the value domain partitioned "
    "BY GROUP (the q47 histogram-percentile shape — per-task "
    "state is a group's distinct-value histogram, never its "
    "rows), and a conditional aggregate picks the crossing "
    "value. Scale: one shuffle on (group, value), one on group; "
    "weights and the crossing rule are exact integers "
    "throughout.",
)
def q491_grouped_weighted_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        cents(F.col("l_extendedprice")).alias("cents"),
    ).agg(F.sum(F.round("l_quantity").cast("long")).alias("w"))
    wgrp = Window.partitionBy("grp")
    wcum = wgrp.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = h.select(
        "grp",
        "cents",
        "w",
        F.coalesce(F.sum("w").over(wcum), F.lit(0)).alias("bef"),
        F.sum("w").over(wgrp).alias("tot"),
    )
    return (
        cum.groupBy("grp")
        .agg(
            F.min(
                F.when(
                    2 * (F.col("bef") + F.col("w")) >= F.col("tot"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("weighted_median_cents"),
            F.max("tot").cast("long").alias("total_weight"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_prices"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------- q492
# Right-censoring horizon: customers whose last order falls within
# this many days of the dataset's end are censored (still alive).
_KM_HORIZON_DAYS = 90
# per-term log survival factor, nano-quantized from exact integer
# (d, n) inputs — shared verbatim by both engines (q476 pattern).
_KM_LOG_EXPR = (
    "CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk) * 1000000000)"
    " AS BIGINT)"
)
_KM_SURV_EXPR = (
    "CAST(ROUND(EXP(CAST(log_cum AS DOUBLE) / 1000000000) * 1000000)"
    " AS BIGINT)"
)


@register(
    "q492_kaplan_meier_survival",
    f"""
    WITH span AS (
        SELECT o_custkey,
               DATEDIFF('day', MIN(CAST(o_orderdate AS DATE)),
                        MAX(CAST(o_orderdate AS DATE))) AS dur,
               MAX(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders GROUP BY o_custkey
    ),
    horizon AS (SELECT MAX(last_d) AS mx FROM span),
    obs AS (
        SELECT dur,
               CASE WHEN DATEDIFF('day', last_d, h.mx)
                    > {_KM_HORIZON_DAYS} THEN 1 ELSE 0 END AS ev
        FROM span CROSS JOIN horizon h
    ),
    tot AS (SELECT COUNT(*) AS n FROM obs),
    byt AS (
        SELECT dur, SUM(ev) AS d, COUNT(*) AS leaving
        FROM obs GROUP BY dur
    ),
    risk AS (
        SELECT dur, d,
               t.n - (SUM(leaving) OVER (ORDER BY dur) - leaving)
                   AS n_risk
        FROM byt CROSS JOIN tot t
    ),
    terms AS (
        SELECT dur, d, n_risk, {_KM_LOG_EXPR} AS log_term
        FROM risk WHERE d > 0
    ),
    cum AS (
        SELECT dur, d, n_risk,
               SUM(log_term) OVER (ORDER BY dur) AS log_cum
        FROM terms
    )
    SELECT CAST(dur AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           {_KM_SURV_EXPR} AS survival_ppm
    FROM cum ORDER BY t_days
    """,
    doc="Kaplan-Meier survival (product-limit churn curve: a "
    "customer enters at their first order, churns at their last "
    "order unless it lies within the 90-day right-censoring "
    "horizon of the dataset's end; S(t) = prod over event times "
    "<= t of (1 - d_i/n_i)): durations and event flags from one "
    "per-customer aggregate; the at-risk count n_i comes from "
    "the exclusive prefix of LEAVING counts over the duration "
    "domain (everyone minus those already gone); the running "
    "product distributes as a prefix SUM of per-term logs, each "
    "nano-quantized from exact integer (d, n) inputs before any "
    "aggregation (the q476 quantize-then-integer-sum pattern — "
    "FP order never touches the result), and one EXP at the end "
    "is absorbed by the ppm round. Scale: one customer groupBy "
    "is the only row pass; everything after runs over the "
    "duration domain (bounded by days, not data).",
)
def q492_kaplan_meier_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    span = o.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("dur"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )
    horizon = span.agg(F.max("last_d").alias("mx"))
    obs = span.crossJoin(F.broadcast(horizon)).select(
        "dur",
        (
            F.datediff(F.col("mx"), F.col("last_d"))
            > _KM_HORIZON_DAYS
        )
        .cast("long")
        .alias("ev"),
    )
    tot = obs.agg(F.count(F.lit(1)).alias("n"))
    byt = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    pre = prefix_agg(
        byt, [("dur", "asc")], {"gone": ("sum", "leaving")}
    )
    risk = pre.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (F.col("n") - F.col("gone")).alias("n_risk"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        "dur", "d", "n_risk", F.expr(_KM_LOG_EXPR).alias("log_term")
    )
    # inclusive prefix = exclusive block-offset prefix + own term;
    # the duration domain is bounded (~2.4k rows) but the zero-
    # unpartitioned-window invariant is kept mechanical, not argued.
    cum = prefix_agg(
        terms, [("dur", "asc")], {"log_ex": ("sum", "log_term")}
    ).select(
        "dur",
        "d",
        "n_risk",
        (F.col("log_ex") + F.col("log_term")).alias("log_cum"),
    )
    return cum.select(
        F.col("dur").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.expr(_KM_SURV_EXPR).alias("survival_ppm"),
    ).orderBy("t_days")
