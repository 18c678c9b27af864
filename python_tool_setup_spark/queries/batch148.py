"""Round-5 gates, batch 148: group-sequential testing with
O'Brien-Fleming boundaries (q507 — the peeking-safe experiment
monitor: four interim looks at cumulative data, each interim z
compared to the OBF boundary C*sqrt(K/k), which spends almost no
alpha early and the nominal 1.96-ish at the end; the whole monitor
is one month-domain sufficient-stats table — no per-look rescan)
and expected-loss decision (q508 — the Bayesian stopping metric
(VWO-style): E[loss | ship B] = s*phi(t) - D*Phi(-t) under the
normal posterior of the mean difference; ship when the loss of
being wrong drops below a caring threshold — the decision quantity
that, unlike a p-value, is in METRIC UNITS (cents)).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# Four looks: cumulative snapshots across the fixture's
# 1995-2001 order span. OBF two-sided
# boundary z_k = C * sqrt(K/k), C = 2.024 (K=4, alpha=0.05) —
# micro-quantized ONCE here and inlined on both engines.
_LOOK_ENDS = ["1997-01-01", "1999-01-01", "2001-01-01", "2002-01-01"]
_OBF_C = 2.024
_OBF_BOUND_MICRO = [
    round(_OBF_C * math.sqrt(4 / k) * 1_000_000) for k in (1, 2, 3, 4)
]

# Welch z from exact per-(look, arm) sufficient stats — q476 pattern.
_GS_Z_EXPR = (
    "ROUND((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)"
    " / SQRT("
    "  ((CAST(q_t AS DOUBLE) - CAST(s_t AS DOUBLE) * s_t / n_t)"
    "   / (n_t - 1)) / n_t"
    "  + ((CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE) * s_c / n_c)"
    "     / (n_c - 1)) / n_c"
    " ), 4)"
)


@register(
    "q507_group_sequential_obf",
    f"""
    WITH base AS (
        SELECT o_custkey % 2 = 0 AS treat,
               CAST(o_orderdate AS DATE) AS d,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    looks AS (
        SELECT * FROM (VALUES
    """
    + ",\n".join(
        f"        ({k + 1}, DATE '{end}', {b})"
        for k, (end, b) in enumerate(
            zip(_LOOK_ENDS, _OBF_BOUND_MICRO)
        )
    )
    + f"""
        ) AS t(look, end_d, bound_micro)
    ),
    cells AS (
        SELECT l.look, l.bound_micro, b.treat,
               COUNT(*) AS n, SUM(b.cents) AS s,
               SUM(CAST(b.cents AS HUGEINT) * b.cents) AS q
        FROM base b JOIN looks l ON b.d < l.end_d
        GROUP BY l.look, l.bound_micro, b.treat
    ),
    wide AS (
        SELECT look, bound_micro,
               MAX(CASE WHEN treat THEN n END) AS n_t,
               MAX(CASE WHEN treat THEN s END) AS s_t,
               MAX(CASE WHEN treat THEN q END) AS q_t,
               MAX(CASE WHEN NOT treat THEN n END) AS n_c,
               MAX(CASE WHEN NOT treat THEN s END) AS s_c,
               MAX(CASE WHEN NOT treat THEN q END) AS q_c
        FROM cells GROUP BY look, bound_micro
    ),
    z AS (
        SELECT look, bound_micro, n_t, n_c, {_GS_Z_EXPR} AS zval
        FROM wide
    ),
    stopped AS (
        SELECT COALESCE(MIN(CASE WHEN ABS(CAST(ROUND(zval * 1000000)
                   AS BIGINT)) > bound_micro THEN look END), 0)
               AS stop_look
        FROM z
    )
    SELECT CAST(z.look AS BIGINT) AS look,
           CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_control,
           CAST(zval AS DOUBLE) AS z,
           CAST(bound_micro AS BIGINT) AS obf_bound_micro,
           ABS(CAST(ROUND(zval * 1000000) AS BIGINT)) > bound_micro
               AS crossed,
           CAST(st.stop_look AS BIGINT) AS stopped_at_look
    FROM z CROSS JOIN stopped st
    ORDER BY look
    """,
    doc="Group-sequential testing with O'Brien-Fleming boundaries "
    "(the peeking-safe monitor: four interim looks at cumulative "
    "data, interim z vs the OBF boundary C*sqrt(K/k) — near-zero "
    "alpha spent early, ~nominal at the final look; boundaries "
    "micro-quantized module constants inlined on both engines): "
    "one scan joins each row to the looks whose window contains "
    "it (a 4-row broadcast — cumulative looks need no per-look "
    "rescan), per-(look, arm) sufficient stats in exact cents / "
    "HUGEINT-DECIMAL(38) squares, Welch z through shared "
    "expression text, crossing decided by integer comparison of "
    "the micro-quantized z, and the earliest stopping look "
    "broadcast back onto every row. Scale: one groupBy at any "
    "size; adding looks adds broadcast rows, not passes.",
)
def q507_group_sequential_obf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % 2 == 0).alias("treat"),
        F.col("o_orderdate").cast("date").alias("d"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    looks = spark.createDataFrame(
        [
            (k + 1, end, b)
            for k, (end, b) in enumerate(
                zip(_LOOK_ENDS, _OBF_BOUND_MICRO)
            )
        ],
        "look INT, end_d STRING, bound_micro BIGINT",
    ).select("look", F.col("end_d").cast("date").alias("end_d"),
             "bound_micro")
    cells = (
        base.join(F.broadcast(looks), base.d < looks.end_d)
        .groupBy("look", "bound_micro", "treat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).alias("q"),
        )
    )
    def arm(flag, col):
        cond = F.col("treat") if flag else ~F.col("treat")
        return F.max(F.when(cond, F.col(col)))
    wide = cells.groupBy("look", "bound_micro").agg(
        arm(True, "n").alias("n_t"),
        arm(True, "s").alias("s_t"),
        arm(True, "q").alias("q_t"),
        arm(False, "n").alias("n_c"),
        arm(False, "s").alias("s_c"),
        arm(False, "q").alias("q_c"),
    )
    z = wide.select(
        "look", "bound_micro", "n_t", "n_c",
        F.expr(_GS_Z_EXPR).alias("zval"),
    )
    crossed = (
        F.abs(F.round(F.col("zval") * 1000000).cast("long"))
        > F.col("bound_micro")
    )
    stopped = z.agg(
        F.coalesce(
            F.min(F.when(crossed, F.col("look"))), F.lit(0)
        ).alias("stop_look")
    )
    return (
        z.crossJoin(F.broadcast(stopped))
        .select(
            F.col("look").cast("long").alias("look"),
            F.col("n_t").cast("long").alias("n_treat"),
            F.col("n_c").cast("long").alias("n_control"),
            F.col("zval").cast("double").alias("z"),
            F.col("bound_micro").cast("long").alias(
                "obf_bound_micro"
            ),
            crossed.alias("crossed"),
            F.col("stop_look").cast("long").alias("stopped_at_look"),
        )
        .orderBy("look")
    )


# ---------------------------------------------------------------- q508
# Abramowitz-Stegun 26.2.17 upper tail on |t| (the q476 primitive),
# then phi and the expected-loss assembly — all shared verbatim.
_EL_PRE_EXPRS = [
    "ABS(diff_d / se) AS at",
    "diff_d / se AS t",
    "1 / (1 + 0.2316419 * ABS(diff_d / se)) AS tt",
]
_EL_U_EXPR = (
    "ROUND((EXP(-at * at / 2) / SQRT(2 * PI())) * ("
    "tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937"
    " + tt * (-1.821255978 + tt * 1.330274429))))), 9)"
)
_EL_PHI_EXPR = "ROUND(EXP(-at * at / 2) / SQRT(2 * PI()), 9)"


@register(
    "q508_expected_loss_decision",
    f"""
    WITH base AS (
        SELECT o_custkey % 2 = 0 AS treat,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    cells AS (
        SELECT treat, COUNT(*) AS n, SUM(cents) AS s,
               SUM(CAST(cents AS HUGEINT) * cents) AS q
        FROM base GROUP BY treat
    ),
    wide AS (
        SELECT MAX(CASE WHEN treat THEN n END) AS n_t,
               MAX(CASE WHEN treat THEN s END) AS s_t,
               MAX(CASE WHEN treat THEN q END) AS q_t,
               MAX(CASE WHEN NOT treat THEN n END) AS n_c,
               MAX(CASE WHEN NOT treat THEN s END) AS s_c,
               MAX(CASE WHEN NOT treat THEN q END) AS q_c
        FROM cells
    ),
    m AS (
        SELECT CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c
                   AS diff_d,
               SQRT(((CAST(q_t AS DOUBLE) - CAST(s_t AS DOUBLE)
                     * s_t / n_t) / (n_t - 1)) / n_t
                    + ((CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE)
                       * s_c / n_c) / (n_c - 1)) / n_c) AS se,
               n_t, n_c,
               CAST(ROUND(CAST(s_t AS DOUBLE) / n_t) AS BIGINT)
                   AS mean_t_cents,
               CAST(ROUND(CAST(s_c AS DOUBLE) / n_c) AS BIGINT)
                   AS mean_c_cents
        FROM wide
    ),
    pre AS (SELECT *, {', '.join(_EL_PRE_EXPRS)} FROM m),
    parts AS (
        SELECT *, {_EL_U_EXPR} AS u, {_EL_PHI_EXPR} AS phi
        FROM pre
    ),
    loss AS (
        -- E[loss | ship treat] = se*phi(t) - diff*Phi(-t);
        -- Phi(-t) = u for t>=0, 1-u for t<0 (u = upper tail at |t|)
        SELECT *,
               CAST(ROUND((se * phi - diff_d *
                   (CASE WHEN t >= 0 THEN u ELSE 1 - u END))
                   * 1000000) AS BIGINT) AS loss_ship_t_microcents,
               CAST(ROUND((se * phi + diff_d *
                   (CASE WHEN t >= 0 THEN 1 - u ELSE u END))
                   * 1000000) AS BIGINT) AS loss_ship_c_microcents
        FROM parts
    )
    SELECT CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_control,
           mean_t_cents, mean_c_cents,
           CAST(ROUND(diff_d) AS BIGINT) AS diff_cents,
           CAST(ROUND(se) AS BIGINT) AS se_cents,
           loss_ship_t_microcents, loss_ship_c_microcents,
           loss_ship_t_microcents <= loss_ship_c_microcents
               AS ship_treatment
    FROM loss
    """,
    doc="Expected-loss decision (Bayesian stopping metric: under "
    "the normal posterior of the mean difference D ~ N(diff, "
    "se^2), E[loss | ship X] = se*phi(t) -/+ diff*Phi(-/+t) — the "
    "cost of shipping the wrong arm IN METRIC UNITS (cents), "
    "which is what a launch decision actually weighs, unlike a "
    "p-value): two-cell sufficient stats in exact cents / "
    "HUGEINT-DECIMAL(38) squares from one scan, phi and the "
    "normal tail via the Abramowitz-Stegun 26.2.17 primitive "
    "(the q476 pattern — quantized at ROUND(9) so both engines "
    "agree), losses micro-quantized and the ship verdict an "
    "integer comparison. Scale: one groupBy + 1-row math at any "
    "size.",
)
def q508_expected_loss_decision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % 2 == 0).alias("treat"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cells = base.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("q"),
    )
    def arm(flag, col):
        cond = F.col("treat") if flag else ~F.col("treat")
        return F.max(F.when(cond, F.col(col)))
    wide = cells.agg(
        arm(True, "n").alias("n_t"),
        arm(True, "s").alias("s_t"),
        arm(True, "q").alias("q_t"),
        arm(False, "n").alias("n_c"),
        arm(False, "s").alias("s_c"),
        arm(False, "q").alias("q_c"),
    )
    m = wide.select(
        (
            F.col("s_t").cast("double") / F.col("n_t")
            - F.col("s_c").cast("double") / F.col("n_c")
        ).alias("diff_d"),
        F.sqrt(
            (
                (
                    F.col("q_t").cast("double")
                    - F.col("s_t").cast("double")
                    * F.col("s_t")
                    / F.col("n_t")
                )
                / (F.col("n_t") - 1)
            )
            / F.col("n_t")
            + (
                (
                    F.col("q_c").cast("double")
                    - F.col("s_c").cast("double")
                    * F.col("s_c")
                    / F.col("n_c")
                )
                / (F.col("n_c") - 1)
            )
            / F.col("n_c")
        ).alias("se"),
        "n_t",
        "n_c",
        F.round(F.col("s_t").cast("double") / F.col("n_t"))
        .cast("long")
        .alias("mean_t_cents"),
        F.round(F.col("s_c").cast("double") / F.col("n_c"))
        .cast("long")
        .alias("mean_c_cents"),
    )
    pre = m.selectExpr("*", *_EL_PRE_EXPRS)
    parts = pre.select(
        "*",
        F.expr(_EL_U_EXPR).alias("u"),
        F.expr(_EL_PHI_EXPR).alias("phi"),
    )
    phi_neg_t = F.when(F.col("t") >= 0, F.col("u")).otherwise(
        1 - F.col("u")
    )
    phi_pos_t = F.when(F.col("t") >= 0, 1 - F.col("u")).otherwise(
        F.col("u")
    )
    loss = parts.select(
        "*",
        F.round(
            (F.col("se") * F.col("phi") - F.col("diff_d") * phi_neg_t)
            * 1000000
        )
        .cast("long")
        .alias("loss_ship_t_microcents"),
        F.round(
            (F.col("se") * F.col("phi") + F.col("diff_d") * phi_pos_t)
            * 1000000
        )
        .cast("long")
        .alias("loss_ship_c_microcents"),
    )
    return loss.select(
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_control"),
        "mean_t_cents",
        "mean_c_cents",
        F.round("diff_d").cast("long").alias("diff_cents"),
        F.round("se").cast("long").alias("se_cents"),
        "loss_ship_t_microcents",
        "loss_ship_c_microcents",
        (
            F.col("loss_ship_t_microcents")
            <= F.col("loss_ship_c_microcents")
        ).alias("ship_treatment"),
    )
