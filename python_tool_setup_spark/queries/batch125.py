"""Round-5 gates, batch 125: median heterogeneity (q461 — the
spread of per-nation median order values: a robust ANOVA-style
readout of BETWEEN-group location differences that q140's
mean/stddev table understates under heavy tails) and a composite
release quality gate (q462 — referential integrity, event
idempotency, and header/line money reconciliation folded into one
PASS/FAIL scorecard row: the single boolean a CI pipeline blocks
a data release on, each sub-check an integer cross-multiplied
test reusing q381/q399/q429's definitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles,
)
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# release-gate thresholds (parts per million)
_MAX_ORPHAN_PPM = 0
_MAX_DUP_PPM = 30_000
_MIN_RECON_PPM = 700_000


# ---------------------------------------------------------------- q461
@register(
    "q461_median_heterogeneity",
    """
    WITH joined AS (
        SELECT n.n_name,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    med AS (
        SELECT n_name,
               COUNT(*) AS n,
               ROUND(quantile_cont(cents, 5e-1), 4) AS m
        FROM joined GROUP BY n_name
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS min_group_n,
           CAST(ROUND(MIN(m), 4) AS DOUBLE) AS median_min,
           CAST(ROUND(MAX(m), 4) AS DOUBLE) AS median_max,
           CAST(ROUND(MAX(m) - MIN(m), 4) AS DOUBLE) AS median_range,
           CAST(ROUND(1e6 * (MAX(m) - MIN(m))
               / ((MAX(m) + MIN(m)) / 2e0)) AS BIGINT)
               AS range_over_mid_micro
    FROM med
    """,
    doc="Between-group median heterogeneity (per-nation median "
    "order values summarized as min/max/range and "
    "range-over-midpoint — the robust location-difference "
    "readout a heavy-tailed column needs where q140's means "
    "are dragged by outliers; a large ratio says the groups "
    "genuinely price differently, a small one says the split "
    "is cosmetic): per-nation exact interpolated medians via "
    "the grouped histogram-percentile operator (group = "
    "nation, every window partitioned), ROUND(4) pinned "
    "before the cross-group min/max so both engines compare "
    "identical numbers. Scale: per-group value histograms; "
    "the heterogeneity math is |groups| metadata.",
)
def q461_median_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .select(
            "n_name",
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    med = grouped_exact_percentiles(
        joined, ["n_name"], "cents", {"m": 0.5}
    ).select("n_name", "n", F.round(F.col("m"), 4).alias("m"))
    mid = (F.max("m") + F.min("m")) / F.lit(2.0)
    return med.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("n").cast("long").alias("min_group_n"),
        F.round(F.min("m"), 4).cast("double").alias("median_min"),
        F.round(F.max("m"), 4).cast("double").alias("median_max"),
        F.round(F.max("m") - F.min("m"), 4)
        .cast("double")
        .alias("median_range"),
        F.round(F.lit(1e6) * (F.max("m") - F.min("m")) / mid)
        .cast("long")
        .alias("range_over_mid_micro"),
    )


# ---------------------------------------------------------------- q462
@register(
    "q462_release_quality_gate",
    f"""
    WITH orphans AS (
        SELECT COUNT(*) AS bad FROM lineitem l
        LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL
    ),
    li_n AS (SELECT COUNT(*) AS n FROM lineitem),
    dup AS (
        SELECT SUM(cnt - 1) AS extras, SUM(cnt) AS n
        FROM (
            SELECT COUNT(*) AS cnt
            FROM events
            GROUP BY user_id, event_type, ts
        )
    ),
    recon AS (
        SELECT SUM(CASE WHEN ABS(hdr - lc) * 100 <= hdr
                   THEN 1 ELSE 0 END) AS ok_n,
               COUNT(*) AS n
        FROM (
            SELECT CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS hdr,
                   COALESCE(l.lc, 0) AS lc
            FROM orders o LEFT JOIN (
                SELECT l_orderkey,
                       SUM(CAST(ROUND(100 * l_extendedprice
                           * (1 - l_discount) * (1 + l_tax)) AS BIGINT))
                           AS lc
                FROM lineitem GROUP BY l_orderkey
            ) l ON l.l_orderkey = o.o_orderkey
        )
    )
    SELECT CAST((SELECT bad FROM orphans) AS BIGINT) AS orphan_lines,
           CAST(ROUND(1e6 * (SELECT extras FROM dup)
               / (SELECT n FROM dup)) AS BIGINT) AS dup_ppm,
           CAST(ROUND(1e6 * (SELECT ok_n FROM recon)
               / (SELECT n FROM recon)) AS BIGINT) AS recon_ok_ppm,
           (SELECT bad FROM orphans) * 1000000
               <= {_MAX_ORPHAN_PPM} * (SELECT n FROM li_n)
           AND (SELECT extras FROM dup) * 1000000
               <= {_MAX_DUP_PPM} * (SELECT n FROM dup)
           AND (SELECT ok_n FROM recon) * 1000000
               >= {_MIN_RECON_PPM} * (SELECT n FROM recon)
               AS release_ok
    FROM (SELECT 1)
    """,
    doc="Composite release quality gate (three sub-audits folded "
    "into ONE pass/fail row a CI pipeline blocks on: zero "
    "orphan lineitems (q381's FK check), duplicate natural-key "
    "rate under 3% (q399's idempotency smell), and header/line "
    "money agreement within 1% for at least 70% of orders "
    "(q429's reconciliation) — individual audits tell you WHAT "
    "broke, the gate decides WHETHER to ship): every threshold "
    "test CROSS-MULTIPLIED in integers against ppm constants, "
    "so the final boolean cannot diverge between engines. "
    "Scale: three aggregates over two co-partitioned joins — "
    "the gate costs what the audits cost, paid once per "
    "release.",
)
def q462_release_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    orphan = (
        li.join(o, o.o_orderkey == li.l_orderkey, "left_anti").count()
    )
    li_n = li.count()
    dup = (
        e.groupBy("user_id", "event_type", "ts")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") - 1).alias("extras"),
            F.sum("cnt").alias("n"),
        )
        .collect()[0]
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sum(
            cents(
                F.col("l_extendedprice"),
                1 - F.col("l_discount"),
                1 + F.col("l_tax"),
            )
        ).alias("lc")
    )
    hdr = cents(F.col("o_totalprice"))
    recon = (
        o.join(lines, lines.l_orderkey == o.o_orderkey, "left")
        .select(
            hdr.alias("hdr"),
            F.coalesce(F.col("lc"), F.lit(0)).alias("lc"),
        )
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("hdr") - F.col("lc")) * 100 <= F.col("hdr"),
                    1,
                ).otherwise(0)
            ).alias("ok_n"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    extras, dn = int(dup["extras"]), int(dup["n"])
    ok_n, rn = int(recon["ok_n"]), int(recon["n"])
    release_ok = (
        orphan * 1_000_000 <= _MAX_ORPHAN_PPM * li_n
        and extras * 1_000_000 <= _MAX_DUP_PPM * dn
        and ok_n * 1_000_000 >= _MIN_RECON_PPM * rn
    )
    return spark.createDataFrame(
        [
            (
                orphan,
                round(1e6 * extras / dn),
                round(1e6 * ok_n / rn),
                bool(release_ok),
            )
        ],
        "orphan_lines long, dup_ppm long, recon_ok_ppm long,"
        " release_ok boolean",
    )
