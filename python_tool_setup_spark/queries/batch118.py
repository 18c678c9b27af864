"""Round-5 gates, batch 118: rare-category collapse (q445 — which
long-tail values of a categorical column fall under a 0.5% support
floor and what the collapsed OTHER bucket would hold: the
feature-encoding prep that keeps one-hot/target encoders (q378)
from memorizing noise) and a tail-treatment moment audit (q446 —
skewness and excess kurtosis of order values BEFORE and AFTER
p01/p99 winsorization: the measured evidence for what q143's
capping actually does to the distribution's shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles_frac,
)
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import dd_duck
from python_tool_setup_spark.tables import load_table

_FLOOR_MICRO = 5_000  # 0.5% support floor


# ---------------------------------------------------------------- q445
@register(
    "q445_rare_category_collapse",
    f"""
    WITH counts AS (
        SELECT p_brand AS v, COUNT(*) AS c FROM part GROUP BY p_brand
    ),
    tot AS (SELECT SUM(c) AS n FROM counts),
    tagged AS (
        SELECT v, c,
               c * 1000000 < {_FLOOR_MICRO} * (SELECT n FROM tot) AS rare
        FROM counts
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(CASE WHEN rare THEN 1 ELSE 0 END) AS BIGINT)
               AS collapsed_values,
           CAST(SUM(CASE WHEN rare THEN c ELSE 0 END) AS BIGINT)
               AS other_bucket_rows,
           CAST(ROUND(1e6 * SUM(CASE WHEN rare THEN c ELSE 0 END)
               / (SELECT n FROM tot)) AS BIGINT) AS other_share_micro
    FROM tagged
    """,
    doc="Rare-category collapse advisor (values of p_brand under a "
    "0.5% support floor, counted with the OTHER bucket they'd "
    "form — the encoding prep that keeps one-hot width bounded "
    "and stops q378's target encoder from memorizing 3-row "
    "categories; the floor test is CROSS-MULTIPLIED "
    "(c*1e6 < floor*n) so no division decides membership): one "
    "value-domain aggregate plus a broadcast total. Scale: "
    "|values| metadata after one scan — the advisor output IS "
    "the encoder's vocabulary spec.",
)
def q445_rare_category_collapse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    counts = p.groupBy(F.col("p_brand").alias("v")).agg(
        F.count("*").alias("c")
    )
    tot = counts.agg(F.sum("c").alias("n"))
    tagged = counts.crossJoin(F.broadcast(tot)).withColumn(
        "rare", F.col("c") * 1000000 < F.lit(_FLOOR_MICRO) * F.col("n")
    )
    return tagged.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_values"),
        F.sum(F.when(F.col("rare"), 1).otherwise(0))
        .cast("long")
        .alias("collapsed_values"),
        F.sum(F.when(F.col("rare"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("other_bucket_rows"),
        F.round(
            F.lit(1e6)
            * F.sum(F.when(F.col("rare"), F.col("c")).otherwise(0))
            / F.max("n")
        )
        .cast("long")
        .alias("other_share_micro"),
    )


def _moments_sql(tbl: str) -> str:
    return f"""
        SELECT COUNT(*) AS n,
               SUM(CAST(v AS HUGEINT)) AS s1,
               SUM(CAST(v AS HUGEINT) * v) AS s2,
               SUM(CAST(v AS HUGEINT) * v * v) AS s3,
               SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
        FROM {tbl}
    """


# ---------------------------------------------------------------- q446
@register(
    "q446_tail_treatment_moments",
    f"""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v FROM orders
    ),
    hist AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
    ordv AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rk,
               COUNT(*) OVER () AS n
        FROM vals
    ),
    bsel AS (
        SELECT MAX(n) AS n,
               MAX(CASE WHEN rk = (n - 1) // 100 THEN v END) AS l1,
               MAX(CASE WHEN rk = LEAST(n - 1, (n - 1) // 100 + 1)
                   THEN v END) AS h1,
               MAX(CASE WHEN rk = ((n - 1) * 99) // 100 THEN v END)
                   AS l99,
               MAX(CASE WHEN rk = LEAST(n - 1, ((n - 1) * 99) // 100 + 1)
                   THEN v END) AS h99
        FROM ordv
    ),
    bounds AS (
        -- exact-rational p01/p99 (the q524 class): FLOOR/CEIL of a
        -- float interpolation straddles when 100*quantile lands on an
        -- exact integer; integer numerators floor/ceil exactly
        SELECT CAST((l1 * (100 - (n - 1) % 100)
                     + h1 * ((n - 1) % 100)) // 100 AS BIGINT) AS lo,
               CAST((l99 * (100 - ((n - 1) * 99) % 100)
                     + h99 * (((n - 1) * 99) % 100) + 99) // 100
                   AS BIGINT) AS hi
        FROM bsel
    ),
    capped AS (
        SELECT LEAST(GREATEST(v, (SELECT lo FROM bounds)),
                     (SELECT hi FROM bounds)) AS v
        FROM vals
    ),
    raw_m AS ({_moments_sql("vals")}),
    cap_m AS ({_moments_sql("capped")})
    SELECT 'raw' AS variant,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND(1e3 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * {dd_duck('s3')}
                   - 3e0 * n * {dd_duck('s1')} * {dd_duck('s2')}
                   + 2e0 * {dd_duck('s1')} * {dd_duck('s1')} * {dd_duck('s1')})
               / (CAST(n AS DOUBLE) * n * n)
               / pow(({dd_duck('s2')} / n
                      - ({dd_duck('s1')} / n)
                        * ({dd_duck('s1')} / n)), 15e-1))
               AS BIGINT) AS skewness_milli
    FROM raw_m
    UNION ALL
    SELECT 'winsorized',
           CAST(n AS BIGINT),
           CAST(ROUND(1e3 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * {dd_duck('s3')}
                   - 3e0 * n * {dd_duck('s1')} * {dd_duck('s2')}
                   + 2e0 * {dd_duck('s1')} * {dd_duck('s1')} * {dd_duck('s1')})
               / (CAST(n AS DOUBLE) * n * n)
               / pow(({dd_duck('s2')} / n
                      - ({dd_duck('s1')} / n)
                        * ({dd_duck('s1')} / n)), 15e-1))
               AS BIGINT) AS skewness_milli
    FROM cap_m
    ORDER BY variant
    """,
    doc="Tail-treatment moment audit (population skewness of order "
    "values RAW vs p01/p99-winsorized — the before/after "
    "evidence for what q143's capping does to distribution "
    "shape; a heavy right tail shows as skewness collapsing "
    "toward 0 after capping): dollar-quantized integers, exact "
    "HUGEINT/DECIMAL power sums (cast BEFORE multiply), the "
    "p01/p99 bounds (exact-rational numerators from the shared "
    "histogram-percentile operator, no groups) "
    "floor/ceil-quantized to integers so the "
    "capped column is identical in both engines, skewness "
    "assembled in identical double shape (pow(x, 1.5) on the "
    "same double). Scale: two conditional-moment passes; the "
    "percentile state is the value histogram.",
)
def q446_tail_treatment_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice")).cast("long").alias("v"))
    # exact-rational p01/p99: see the oracle comment. All integer
    # arithmetic; the final /100 divisions are exact (the numerators
    # are first snapped to multiples of 100).
    pct = grouped_exact_percentiles_frac(
        vals, [], "v", {"lo": (1, 100), "hi": (99, 100)}
    )
    n1 = F.col("lo_num")
    n99 = F.col("hi_num") + 99
    bounds = pct.select(
        ((n1 - n1 % 100) / 100).cast("long").alias("lo"),
        ((n99 - n99 % 100) / 100).cast("long").alias("hi"),
    )
    dec = "decimal(38,0)"

    # BOTH variants' exact moment sums in ONE orders pass (§2.3
    # aggregate-before-shuffle): the raw and winsorized value ride the
    # same row, the 1-row moment aggregate is stacked into the 2-row
    # (variant, n, s1, s2, s3) table, and one shared skew expression
    # finishes. The old shape ran moments() twice (two scans) and
    # unioned the two 1-row aggregates. Decimal addends identical per
    # variant, so the sums — and the doubles derived from them — are
    # bit-identical.
    both = vals.crossJoin(F.broadcast(bounds)).select(
        "v",
        F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")).alias("w"),
    )
    vd = F.col("v").cast(dec)
    wd = F.col("w").cast(dec)
    m = both.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("s1r"),
        F.sum(vd * F.col("v")).alias("s2r"),
        F.sum(vd * F.col("v") * F.col("v")).alias("s3r"),
        F.sum(wd).alias("s1w"),
        F.sum(wd * F.col("w")).alias("s2w"),
        F.sum(wd * F.col("w") * F.col("w")).alias("s3w"),
    )
    stacked = m.select(
        F.expr(
            "stack(2, 'raw', n, s1r, s2r, s3r,"
            " 'winsorized', n, s1w, s2w, s3w)"
            " AS (variant, n, s1, s2, s3)"
        )
    )
    nn = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    var = s2 / nn - (s1 / nn) * (s1 / nn)
    skew = (
        (nn * nn * s3 - F.lit(3.0) * F.col("n") * s1 * F.col("s2").cast("double")
         + F.lit(2.0) * s1 * F.col("s1").cast("double") * F.col("s1").cast("double"))
        / (nn * F.col("n") * F.col("n"))
        / F.pow(var, F.lit(1.5))
    )
    return stacked.select(
        "variant",
        F.col("n").cast("long").alias("n"),
        F.round(F.lit(1e3) * skew).cast("long").alias("skewness_milli"),
    ).orderBy("variant")
