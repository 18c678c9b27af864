"""Round-5 gates, batch 113: duplicate payment detection (q434 —
same customer, same amount, within 7 days: the fuzzy double-charge
audit that q399's exact natural-key check misses because the
SECOND charge gets its own order key) and new-vs-repeat revenue
split (q435 — each week's revenue divided into first-ever orders
vs repeat orders: the acquisition-vs-retention mix behind q396's
user-count growth accounting, in money).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_WINDOW_DAYS = 7


# ---------------------------------------------------------------- q434
@register(
    "q434_duplicate_payment_detection",
    f"""
    WITH o2 AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    ),
    sus AS (
        SELECT a.o_custkey, a.cents,
               a.o_orderkey AS k1, b.o_orderkey AS k2,
               date_diff('day', a.d, b.d) AS gap_days
        FROM o2 a JOIN o2 b
          ON b.o_custkey = a.o_custkey AND b.cents = a.cents
         AND a.o_orderkey < b.o_orderkey
         AND ABS(date_diff('day', a.d, b.d)) <= {_WINDOW_DAYS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS suspect_pairs,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customers,
           CAST(SUM(cents) AS BIGINT) AS exposure_cents,
           CAST(MIN(ABS(gap_days)) AS BIGINT) AS min_gap_days,
           CAST(MAX(ABS(gap_days)) AS BIGINT) AS max_gap_days
    FROM sus
    """,
    doc="Duplicate-payment detection (orders by the SAME customer "
    "for the SAME cent amount within 7 days — the double-charge "
    "/ replayed-submission audit; q399 catches exact natural-key "
    "double-fires, this catches the fuzzy pair where the retry "
    "got its own key; exposure = the money at risk of refund): "
    "self-join keyed on (custkey, cents) — the join key IS the "
    "blocking scheme, so candidate pairs are only same-amount "
    "same-customer, not a cross product — with the day window "
    "as integer datediff. Scale: the (custkey, cents) key is "
    "nearly unique, so the self-join is linear in practice; "
    "the pattern is q239's blocked record linkage.",
)
def q434_duplicate_payment_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select(
        "o_orderkey",
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = o2.select(
        F.col("o_custkey"),
        F.col("cents"),
        F.col("o_orderkey").alias("k1"),
        F.col("d").alias("d1"),
    )
    b = o2.select(
        F.col("o_custkey"),
        F.col("cents"),
        F.col("o_orderkey").alias("k2"),
        F.col("d").alias("d2"),
    )
    gap = F.datediff(F.col("d2"), F.col("d1"))
    sus = (
        a.join(b, ["o_custkey", "cents"])
        .where(
            (F.col("k1") < F.col("k2"))
            & (F.abs(gap) <= _WINDOW_DAYS)
        )
        .select("o_custkey", "cents", F.abs(gap).alias("agap"))
    )
    return sus.agg(
        F.count("*").cast("long").alias("suspect_pairs"),
        F.count_distinct("o_custkey").cast("long").alias("customers"),
        F.sum("cents").cast("long").alias("exposure_cents"),
        F.min("agap").cast("long").alias("min_gap_days"),
        F.max("agap").cast("long").alias("max_gap_days"),
    )


# ---------------------------------------------------------------- q435
@register(
    "q435_new_vs_repeat_revenue",
    """
    WITH firsts AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_d
        FROM orders GROUP BY o_custkey
    ),
    tagged AS (
        SELECT date_diff('day', DATE '1970-01-05',
                   CAST(o.o_orderdate AS DATE)) // 7 AS week,
               CASE WHEN CAST(o.o_orderdate AS DATE) = f.first_d
                    THEN 1 ELSE 0 END AS is_new,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    )
    SELECT CAST(week AS BIGINT) AS week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS new_cents,
           CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS repeat_cents,
           CAST(ROUND(1e6 * SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
               / SUM(cents)) AS BIGINT) AS new_share_micro
    FROM tagged GROUP BY week ORDER BY week
    """,
    doc="New-vs-repeat revenue split per week (each week's money "
    "divided into orders placed on a customer's FIRST order "
    "date vs later ones — the acquisition-vs-retention mix in "
    "DOLLARS that q396's growth accounting shows in user "
    "counts; a rising repeat share is the health signal, a "
    "new-heavy mix is bought growth): first order date per "
    "customer via one aggregate, the tag via a custkey join "
    "(same-day multiple first orders all count as new — stated "
    "tie rule, deterministic in both engines), Monday-epoch "
    "week bucketing, cent-quantized sums. Scale: two "
    "custkey-keyed passes on one shuffle.",
)
def q435_new_vs_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d")
    )
    week = F.floor(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")
        )
        / 7
    )
    tagged = o.join(firsts, "o_custkey").select(
        week.alias("week"),
        F.when(
            F.col("o_orderdate").cast("date") == F.col("first_d"), 1
        )
        .otherwise(0)
        .alias("is_new"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    new_c = F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0))
    rep_c = F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0))
    return (
        tagged.groupBy("week")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            new_c.cast("long").alias("new_cents"),
            rep_c.cast("long").alias("repeat_cents"),
            F.round(F.lit(1e6) * new_c / F.sum("cents"))
            .cast("long")
            .alias("new_share_micro"),
        )
        .select(
            F.col("week").cast("long").alias("week"),
            "n_orders",
            "new_cents",
            "repeat_cents",
            "new_share_micro",
        )
        .orderBy("week")
    )
