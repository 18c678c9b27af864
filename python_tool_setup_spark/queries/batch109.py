"""Round-5 gates, batch 109: A/B test power analysis (q426 — the
minimum detectable effect at 95% confidence / 80% power for each
stream's md5-split arms, from the measured variance: the
experiment-design number that q364's SRM check and q315's CUPED
assume someone computed) and a Horvitz-Thompson estimator audit
(q427 — an UNEQUAL-probability stratified sample reweighted by
inverse inclusion probability recovering the true total exactly
in expectation, audited against the md5-deterministic draw:
q383's SRS audit generalized to the weighted designs q412's
Neyman allocation produces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table

# per-stratum md5 sampling rates out of 100 (priority 1..5 by prefix)
_RATES = {"1": 40, "2": 25, "3": 15, "4": 10, "5": 5}


# ---------------------------------------------------------------- q426
@register(
    "q426_ab_power_mde",
    f"""
    WITH assign AS (
        SELECT event_type,
               CAST(('0x' || substr(md5('arm|' ||
                   CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2
                   AS arm,
               CAST(ROUND(1e6 * value) AS BIGINT) AS v_micro
        FROM events
    ),
    arms AS (
        SELECT event_type, arm, COUNT(*) AS n, SUM(v_micro) AS s,
               SUM(CAST(v_micro AS HUGEINT) * v_micro) AS ss
        FROM assign GROUP BY event_type, arm
    ),
    pooled AS (
        SELECT event_type,
               SUM(n) AS n_total, MIN(n) AS n_min,
               SUM({dd_duck('ss')}
                   - CAST(s AS DOUBLE) * s / n) AS ssw
        FROM arms GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_min AS BIGINT) AS n_min,
           CAST(ROUND(sqrt(CAST(ssw AS DOUBLE)
               / (n_total - 2))) AS BIGINT) AS pooled_sd_micro,
           CAST(ROUND((196e-2 + 8416e-4)
               * sqrt(CAST(ssw AS DOUBLE) / (n_total - 2))
               * sqrt(2e0 / n_min)) AS BIGINT) AS mde_micro
    FROM pooled ORDER BY event_type
    """,
    doc="A/B minimum detectable effect per stream (MDE = "
    "(z_0.975 + z_0.80) * sd * sqrt(2/n) at the md5-split arms' "
    "measured within-arm variance — the experiment-design "
    "number that decides whether a test is even worth running; "
    "q364 checks the split's balance, q315 reduces the "
    "variance, this says what the test can SEE): values "
    "micro-quantized, within-arm sum of squares per arm as "
    "ss - s^2/n in identical double shape (the 2-arm sum is "
    "commutative-safe), one "
    "sqrt at the end with e-notation z constants. Scale: one "
    "scan to |streams| x 2 arm cells.",
)
def q426_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm|"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = F.round(F.lit(1e6) * F.col("value")).cast("long")
    dec = "decimal(38,0)"
    assign = e.select(
        "event_type", arm.alias("arm"), v.alias("v_micro")
    )
    arms = assign.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.sum("v_micro").alias("s"),
        F.sum(F.col("v_micro").cast(dec) * F.col("v_micro")).alias("ss"),
    )
    pooled = arms.groupBy("event_type").agg(
        F.sum("n").alias("n_total"),
        F.min("n").alias("n_min"),
        F.sum(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    sd = F.sqrt(F.col("ssw").cast("double") / (F.col("n_total") - 2))
    return pooled.select(
        "event_type",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_min").cast("long").alias("n_min"),
        F.round(sd).cast("long").alias("pooled_sd_micro"),
        F.round(
            (F.lit(1.96) + F.lit(0.8416))
            * sd
            * F.sqrt(F.lit(2.0) / F.col("n_min"))
        )
        .cast("long")
        .alias("mde_micro"),
    ).orderBy("event_type")


def _rate_sql() -> str:
    return " ".join(
        f"WHEN substr(o_orderpriority, 1, 1) = '{k}' THEN {v}"
        for k, v in _RATES.items()
    )


# ---------------------------------------------------------------- q427
@register(
    "q427_horvitz_thompson_audit",
    f"""
    WITH base AS (
        SELECT o_orderpriority,
               CASE {_rate_sql()} ELSE 10 END AS rate,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
               CAST(('0x' || substr(md5('ht|' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                   AS bucket
        FROM orders
    ),
    agg AS (
        SELECT SUM(cents) AS true_total,
               COUNT(*) AS n_pop,
               SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS n_sample,
               SUM(CASE WHEN bucket < rate
                        THEN CAST(ROUND(cents * 100e0 / rate) AS BIGINT)
                        ELSE 0 END) AS ht_total
        FROM base
    )
    SELECT CAST(n_pop AS BIGINT) AS n_pop,
           CAST(n_sample AS BIGINT) AS n_sample,
           CAST(true_total AS BIGINT) AS true_total_cents,
           CAST(ht_total AS BIGINT) AS ht_total_cents,
           CAST(ROUND(1e6 * ABS(ht_total - true_total)
               / true_total) AS BIGINT) AS rel_err_micro,
           ABS(ht_total - true_total) * 20 < true_total AS within_5pct
    FROM agg
    """,
    doc="Horvitz-Thompson estimator audit for an UNEQUAL-probability "
    "stratified sample (inclusion rates 40/25/15/10/5% by order "
    "priority — the shape q412's Neyman allocation produces; "
    "each sampled value reweighted by 1/pi, the estimator that "
    "stays unbiased where a naive scale-up breaks): "
    "md5-deterministic draw so BOTH engines sample identical "
    "rows and the audit is exact — per-row HT weights "
    "ROUND(cents*100/rate) quantized before the integer sum, "
    "relative error in micro, the 5% claim as an integer "
    "cross-multiplied boolean. Scale: one scan, one conditional "
    "aggregate — the estimator is what you run INSTEAD of the "
    "full scan at 100 TB.",
)
def q427_horvitz_thompson_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rate = F.when(
        F.substring("o_orderpriority", 1, 1) == "1", _RATES["1"]
    )
    for k, v in list(_RATES.items())[1:]:
        rate = rate.when(F.substring("o_orderpriority", 1, 1) == k, v)
    rate = rate.otherwise(10)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("ht|"), F.col("o_orderkey").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    cents_col = cents(F.col("o_totalprice"))
    base = o.select(
        rate.alias("rate"), cents_col.alias("cents"), bucket.alias("bucket")
    )
    in_s = F.col("bucket") < F.col("rate")
    agg = base.agg(
        F.sum("cents").alias("true_total"),
        F.count("*").alias("n_pop"),
        F.sum(F.when(in_s, 1).otherwise(0)).alias("n_sample"),
        F.sum(
            F.when(
                in_s,
                F.round(
                    F.col("cents") * F.lit(100.0) / F.col("rate")
                ).cast("long"),
            ).otherwise(0)
        ).alias("ht_total"),
    )
    err = F.abs(F.col("ht_total") - F.col("true_total"))
    return agg.select(
        F.col("n_pop").cast("long").alias("n_pop"),
        F.col("n_sample").cast("long").alias("n_sample"),
        F.col("true_total").cast("long").alias("true_total_cents"),
        F.col("ht_total").cast("long").alias("ht_total_cents"),
        F.round(F.lit(1e6) * err / F.col("true_total"))
        .cast("long")
        .alias("rel_err_micro"),
        (err * 20 < F.col("true_total")).alias("within_5pct"),
    )
