"""Round-4 gates, batch 59: RFM segmentation (q323 — the classic
recency/frequency/monetary customer grid, quintiles assigned with
the block-offset ranking) and delta-method ratio-metric inference
(q324 — the correct standard error for per-user RATIO metrics,
completing the experimentation stack with q293's t-test and q315's
CUPED).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import dd_duck
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q323
@register(
    "q323_rfm_segmentation",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(date_diff('day', MAX(CAST(ts AS DATE)),
                    DATE '2024-01-30') AS BIGINT) AS recency,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, recency, frequency, monetary,
               (5 * (ROW_NUMBER() OVER (ORDER BY recency, user_id) - 1))
                   // COUNT(*) OVER () AS r_score,
               (5 * (ROW_NUMBER() OVER (ORDER BY frequency DESC, user_id)
                   - 1)) // COUNT(*) OVER () AS f_score,
               (5 * (ROW_NUMBER() OVER (ORDER BY monetary DESC, user_id)
                   - 1)) // COUNT(*) OVER () AS m_score
        FROM per_user
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary) AS BIGINT) AS segment_monetary
    FROM ranked GROUP BY 1, 2, 3
    ORDER BY r_score, f_score, m_score
    """,
    doc="RFM segmentation (the recency/frequency/monetary customer "
    "grid CRM targeting runs on — q94 cohorts by signup date, RFM "
    "segments by BEHAVIOR): per-user recency (days before the "
    "horizon), frequency (events) and monetary (exact cents), "
    "each scored into population quintiles 0-4 (0 = best: most "
    "recent / most frequent / highest spend) with total-order "
    "tiebreaks, then the 125-cell segment grid with user counts "
    "and segment revenue. The Spark side assigns all three "
    "quintiles with the q309/q320 block-offset ranking (three "
    "value-histogram cumsums broadcast back, per-block "
    "partitioned windows) — no global window opens even three "
    "times over; the oracle's three global ROW_NUMBERs re-prove "
    "each decomposition. Scale: one user groupBy then "
    "metadata-sized ranking tables; the output grid is <= 125 "
    "rows at any scale.",
)
def q323_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # One row per user — pinned ONCE (eager localCheckpoint), because
    # everything downstream (three histograms + three rank joins)
    # re-reads it. The r5 version chained three quintile() calls whose
    # unpinned lineage re-executed multiplicatively (~4^3: 62 s solo
    # for a 5 s query — the round-5 scale-killer); all three scores
    # are independent functions of per_user, so they are now derived
    # from the same pinned frame and attached in one pass.
    per_user = pin(ev.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-01-30").cast("date"), F.max(F.col("ts").cast("date"))
        )
        .cast("long")
        .alias("recency"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("monetary"),
    ))
    n_tot = per_user.count()  # scalar off the pinned frame

    scored = per_user
    for col, descending, out in (
        ("recency", False, "r_score"),
        ("frequency", True, "f_score"),
        ("monetary", True, "m_score"),
    ):
        # Block-offset population quintile: rank = value-histogram
        # exclusive prefix + within-value row_number, score =
        # 5*(rank-1) div n. The histogram is metadata-sized; its
        # offsets broadcast back.
        hist = per_user.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        offsets = prefix_agg(
            hist,
            [(col, "desc" if descending else "asc")],
            {"_off": ("sum", "cnt")},
            # hist re-executions only re-read the pinned per_user
            # checkpoint — cheaper than three more eager pin jobs
            cache_input=False,
        ).select(col, F.col("_off").alias(f"_off_{out}"))
        wb = Window.partitionBy(col).orderBy("user_id")
        rank = F.col(f"_off_{out}") + F.row_number().over(wb)
        scored = (
            scored.join(F.broadcast(offsets), col)
            .withColumn("_rank", rank)
            .withColumn(out, F.expr(f"div(5 * (_rank - 1), {n_tot})"))
            .drop(f"_off_{out}", "_rank")
        )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("monetary").cast("long").alias("segment_monetary"),
        )
        .select(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
            "n_users",
            "segment_monetary",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------- q324
@register(
    "q324_ratio_metric_delta",
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS y,
               user_id % 2 = 0 AS arm_a
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT arm_a, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM per_user GROUP BY arm_a
    ),
    d AS (
        SELECT arm_a, CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
               CAST(sy AS DOUBLE) AS sy, {dd_duck('sxy')} AS sxy,
               {dd_duck('sxx')} AS sxx, {dd_duck('syy')} AS syy
        FROM s
    ),
    m AS (
        SELECT arm_a, n, sy / sx AS ratio,
               ((syy - sy * sy / n)
                + (sy / sx) * (sy / sx) * (sxx - sx * sx / n)
                - 2.0 * (sy / sx) * (sxy - sx * sy / n))
               / ((n - 1.0) * (sx / n) * (sx / n) * n) AS var_r
        FROM d
    )
    SELECT CAST((SELECT n FROM m WHERE arm_a) AS BIGINT) AS n_a,
           CAST((SELECT n FROM m WHERE NOT arm_a) AS BIGINT) AS n_b,
           CAST(ROUND((SELECT ratio FROM m WHERE arm_a) * 1000000.0)
               AS BIGINT) AS ratio_a_micro,
           CAST(ROUND((SELECT ratio FROM m WHERE NOT arm_a) * 1000000.0)
               AS BIGINT) AS ratio_b_micro,
           CAST(ROUND(((SELECT ratio FROM m WHERE arm_a)
               - (SELECT ratio FROM m WHERE NOT arm_a))
               / sqrt((SELECT var_r FROM m WHERE arm_a)
                      + (SELECT var_r FROM m WHERE NOT arm_a))
               * 1000000.0) AS BIGINT) AS z_micro
    """,
    doc="Delta-method inference for RATIO metrics (revenue per "
    "event, CTR, items per order — the metrics where naive "
    "per-user averaging is WRONG because both numerator and "
    "denominator vary per user; the missing third of the "
    "experimentation stack after q293's mean t-test and q315's "
    "CUPED): per arm, the ratio R = sum(y)/sum(x) and its "
    "delta-method variance (s_y^2 + R^2 s_x^2 - 2 R s_xy) / "
    "(n xbar^2), all derived from one-pass exact integer moment "
    "sums (HUGEINT/DECIMAL products) in identical "
    "correctly-rounded double association, plus the two-arm "
    "z statistic. Scale: one user groupBy + a 2-row moment "
    "reduce.",
)
def q324_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    ).withColumn("arm_a", F.col("user_id") % 2 == 0)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = per_user.groupBy("arm_a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(F.col("y")) * F.col("y")).alias("syy"),
    )
    cols = ["n", "sx", "sy", "sxy", "sxx", "syy"]
    d = s.select(
        "arm_a", *[F.col(c).cast("double").alias(c) for c in cols]
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    ratio = sy / sx
    var_r = (
        (syy - sy * sy / n)
        + ratio * ratio * (sxx - sx * sx / n)
        - F.lit(2.0) * ratio * (sxy - sx * sy / n)
    ) / ((n - F.lit(1.0)) * (sx / n) * (sx / n) * n)
    m = d.select("arm_a", n.alias("nn"), ratio.alias("ratio"), var_r.alias("var_r"))
    a = m.filter(F.col("arm_a")).select(
        F.col("nn").alias("na"),
        F.col("ratio").alias("ra"),
        F.col("var_r").alias("va"),
    )
    b = m.filter(~F.col("arm_a")).select(
        F.col("nn").alias("nb"),
        F.col("ratio").alias("rb"),
        F.col("var_r").alias("vb"),
    )
    out = a.crossJoin(F.broadcast(b))  # two 1-row frames
    return out.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ra") * 1000000.0).cast("long").alias("ratio_a_micro"),
        F.round(F.col("rb") * 1000000.0).cast("long").alias("ratio_b_micro"),
        F.round(
            (F.col("ra") - F.col("rb"))
            / F.sqrt(F.col("va") + F.col("vb"))
            * 1000000.0
        )
        .cast("long")
        .alias("z_micro"),
    )
