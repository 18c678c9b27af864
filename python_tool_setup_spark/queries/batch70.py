"""Round-4 gates, batch 70: largest-remainder apportionment (q344 —
the exact integer allocator for 'split this eval budget
proportionally across strata', beside q306's water-filling cap) and
date-spine gap detection (q345 — the calendar-join pattern that
finds the days a fact table silently skipped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_BUDGET = 100


# ---------------------------------------------------------------- q344
@register(
    "q344_largest_remainder",
    f"""
    WITH strata AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS t FROM strata),
    quotas AS (
        SELECT lang, n,
               ({_BUDGET} * n) // (SELECT t FROM tot) AS floor_q,
               ({_BUDGET} * n) % (SELECT t FROM tot) AS rem
        FROM strata
    ),
    ranked AS (
        SELECT lang, n, floor_q, rem,
               ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
               {_BUDGET} - SUM(floor_q) OVER () AS leftover
        FROM quotas
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(floor_q AS BIGINT) AS floor_quota,
           CAST(rem AS BIGINT) AS remainder_numerator,
           CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
               AS BIGINT) AS allocated
    FROM ranked ORDER BY lang
    """,
    doc="Largest-remainder (Hamilton) apportionment of a fixed "
    "sample budget across strata (the exact-integer allocator "
    "behind 'build a 100-doc eval set proportional to language "
    "mix' — naive rounding of quotas over- or under-shoots the "
    "budget; Hamilton's method provably sums to it exactly): "
    "integer floor quotas via (B*n) div T, leftover seats to the "
    "largest integer REMAINDERS (B*n mod T — never a float "
    "quota) with lexicographic tie-breaks, so the allocation is "
    "engine-exact end to end — zero FP anywhere in this gate. "
    "The dual of q306's water-filling (proportional share vs "
    "capped fairness). Scale: the solver runs on the "
    "|strata|-row table; windows and all are metadata.",
)
def q344_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Pin the ≤|langs|-row strata (tot/quotas/floors/rank all derive
    # from it — unpinned each re-ran the documents scan + groupBy) and
    # take the grand total and the floor-quota leftover as window sums
    # over the tiny table instead of scalar crossJoins (q294 shape).
    strata = pin(d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")))
    # bounded-domain: strata table: one row per lang
    wall = Window.partitionBy(F.lit(1))
    quotas = strata.select(
        "lang", "n", F.sum("n").over(wall).alias("t")
    ).select(
        "lang",
        "n",
        F.expr(f"div({_BUDGET} * n, t)").alias("floor_q"),
        ((F.lit(_BUDGET) * F.col("n")) % F.col("t")).alias("rem"),
    )
    ranked = prefix_rank(
        quotas, [("rem", "desc"), ("lang", "asc")], alias="rk"
    ).withColumn(
        "leftover", F.lit(_BUDGET) - F.sum("floor_q").over(wall)
    )
    return ranked.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.col("floor_q").cast("long").alias("floor_quota"),
        F.col("rem").cast("long").alias("remainder_numerator"),
        (
            F.col("floor_q")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated"),
    ).orderBy("lang")


# ---------------------------------------------------------------- q345
@register(
    "q345_date_spine_gaps",
    """
    WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                   DATE '1995-12-31', INTERVAL 1 DAY)) AS DATE) AS day
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1
    ),
    flagged AS (
        SELECT s.day, COALESCE(d.n, 0) AS n
        FROM spine s LEFT JOIN daily d ON d.day = s.day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_days,
           -- gap brackets leave as STRINGS: a NULLABLE date final
           -- renders None via Spark's toPandas but NaT via DuckDB's
           -- datetime64 fetch — the driver's value hash diverges on
           -- the no-gaps case; NULL strings render None on BOTH.
           STRFTIME(MIN(CASE WHEN n = 0 THEN day END), '%Y-%m-%d')
               AS first_gap_day,
           STRFTIME(MAX(CASE WHEN n = 0 THEN day END), '%Y-%m-%d')
               AS last_gap_day,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM flagged
    """,
    doc="Date-spine gap detection (the calendar-join warehouse "
    "pattern: a generated day spine LEFT-joined to the fact table "
    "exposes the days the pipeline silently skipped — absence is "
    "invisible to any groupBy over the facts alone, which is why "
    "every loader audit builds the spine first): a 365-day "
    "generated dimension (sequence(), zero I/O), per-day order "
    "counts from one aggregate, gap days counted and bracketed "
    "(first/last missing day). Scale: the spine is calendar-"
    "bounded metadata broadcast to the join; the fact side is "
    "the usual one-pass aggregate. Complements q337 (freshness "
    "measures the END of the stream; the spine finds holes in "
    "the MIDDLE).",
)
def q345_date_spine_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spine = spark.sql(
        "SELECT explode(sequence(DATE'1995-01-01', DATE'1995-12-31',"
        " interval 1 day)) AS day"
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    flagged = spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_gap_days"),
        F.date_format(
            F.min(F.when(F.col("n") == 0, F.col("day"))), "yyyy-MM-dd"
        ).alias("first_gap_day"),
        F.date_format(
            F.max(F.when(F.col("n") == 0, F.col("day"))), "yyyy-MM-dd"
        ).alias("last_gap_day"),
        F.sum("n").cast("long").alias("n_orders"),
    )
