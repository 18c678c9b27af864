"""Round-3 gates, batch 17: temporal dimension join (q207) — facts
joined to the dimension version that was CURRENT at each fact's event
time, composing the SCD2 history operator (q76) with an interval
join. All validity arithmetic is integer epoch-microseconds so both
engines compute identical boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q207
@register(
    "q207_temporal_dimension_join",
    """
    WITH mids AS (
        SELECT user_id,
               (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us
        FROM events GROUP BY user_id
    ),
    h AS (
        SELECT user_id, 'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier,
               CAST(-9223372036854775807 AS BIGINT) AS from_us,
               mid_us AS to_us
        FROM mids
        UNION ALL
        SELECT user_id, 'tier_' || CAST((user_id + 1) % 3 AS VARCHAR),
               mid_us, CAST(9223372036854775807 AS BIGINT)
        FROM mids
    )
    SELECT h.tier,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 2) AS total_value
    FROM (SELECT user_id, epoch_us(ts) AS us, value FROM events) e
    JOIN h ON e.user_id = h.user_id
          AND h.from_us <= e.us AND e.us < h.to_us
    GROUP BY h.tier
    """,
    doc="Temporal dimension join (the fact-to-SCD2 'as of event time' "
    "pattern — q76 keeps the history, THIS joins through it): every "
    "user's tier changes mid-stream (two SCD2 validity intervals per "
    "user, built in-query so both engines see identical history), and "
    "each event must pick up the tier that was current AT ITS OWN "
    "TIMESTAMP — not today's. The join is an equi-join on the "
    "surrogate key plus the validity-interval predicate, so it "
    "shuffles once on user_id and the interval check is a residual "
    "filter — the exact shape that attributes 100 TB of facts to "
    "historically-correct dimension versions (joining to the "
    "current rows instead silently rewrites history). Validity "
    "boundaries are integer epoch-microseconds on both engines.",
)
def q207_temporal_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    mids = ev.groupBy("user_id").agg(
        ((F.min("us") + F.max("us")) / F.lit(2))
        .cast("bigint")  # floor div: both operands nonneg epoch micros
        .alias("mid_us")
    )
    lo = -(2**63 - 1)
    hi = 2**63 - 1
    tier = lambda shift: F.concat(  # noqa: E731
        F.lit("tier_"), ((F.col("user_id") + shift) % 3).cast("string")
    )
    early = mids.select(
        "user_id",
        tier(0).alias("tier"),
        F.lit(lo).alias("from_us"),
        F.col("mid_us").alias("to_us"),
    )
    late = mids.select(
        "user_id",
        tier(1).alias("tier"),
        F.col("mid_us").alias("from_us"),
        F.lit(hi).alias("to_us"),
    )
    history = early.unionByName(late)
    joined = ev.join(
        history,
        (ev["user_id"] == history["user_id"])
        & (history["from_us"] <= ev["us"])
        & (ev["us"] < history["to_us"]),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
