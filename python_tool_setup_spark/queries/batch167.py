"""Round-5 gates, batch 167: split-half reliability (q545 — is a
per-user metric a stable trait or noise? Measure each customer's
average order value on their odd-indexed and even-indexed orders
separately, correlate the halves, and apply the Spearman-Brown
step-up rho = 2r/(1+r) — the psychometric reliability of the
metric itself, the question every per-user score should answer
before anyone segments on it) and intraclass correlation (q546 —
ICC(1) from one-way ANOVA: the share of order-value variance that
lives BETWEEN customers rather than within them; this is exactly
the clustering that makes q505's delta-method SEs necessary, now
measured directly from the same sufficient statistics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

# Pearson r between half-means from exact integer moments.
def _sh_r_expr(dd) -> str:
    return (
        f"((CAST(n AS DOUBLE) * {dd('sab')} - CAST(sa AS DOUBLE) * sb)"
        f" / SQRT((CAST(n AS DOUBLE) * {dd('qa')} - CAST(sa AS DOUBLE) * sa)"
        f"        * (CAST(n AS DOUBLE) * {dd('qb')} - CAST(sb AS DOUBLE) * sb)))"
    )


@register(
    "q545_split_half_reliability",
    f"""
    WITH halves AS (
        SELECT o_custkey,
               CAST(ROUND(AVG(CASE WHEN o_orderkey % 2 = 1
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   END)) AS BIGINT) AS a,
               CAST(ROUND(AVG(CASE WHEN o_orderkey % 2 = 0
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   END)) AS BIGINT) AS b
        FROM orders GROUP BY o_custkey
    ),
    both_h AS (
        SELECT a, b FROM halves WHERE a IS NOT NULL AND b IS NOT NULL
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
               SUM(CAST(a AS HUGEINT) * a) AS qa,
               SUM(CAST(b AS HUGEINT) * b) AS qb,
               SUM(CAST(a AS HUGEINT) * b) AS sab
        FROM both_h
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(ROUND({_sh_r_expr(dd_duck)} * 1000000) AS BIGINT)
               AS half_r_micro,
           CAST(ROUND(2 * {_sh_r_expr(dd_duck)} / (1 + {_sh_r_expr(dd_duck)})
               * 1000000) AS BIGINT) AS spearman_brown_micro,
           ROUND(2 * {_sh_r_expr(dd_duck)} / (1 + {_sh_r_expr(dd_duck)}) * 1000000)
               >= 700000 AS metric_reliable
    FROM s
    """,
    doc="Split-half reliability with Spearman-Brown step-up (is a "
    "per-user metric a stable trait or noise? each customer's "
    "average order value is measured on odd- and even-keyed "
    "orders separately; the half-half correlation r, boosted by "
    "rho = 2r/(1+r), is the reliability of the FULL metric — "
    "the psychometric question every per-user score should pass "
    "before segmentation decisions ride on it; on this fixture's "
    "i.i.d. order values the halves share no customer trait, so "
    "low reliability is the truthful reading): per-customer "
    "half-means from one conditional aggregate (customers "
    "missing a half excluded as the method requires), the moment "
    "matrix in exact HUGEINT/DECIMAL(38), r and rho through "
    "shared expression text. Scale: one groupBy + 1-row math.",
)
def q545_split_half_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    halves = o.groupBy("o_custkey").agg(
        F.round(
            F.avg(F.when(F.col("o_orderkey") % 2 == 1, cents_col))
        )
        .cast("long")
        .alias("a"),
        F.round(
            F.avg(F.when(F.col("o_orderkey") % 2 == 0, cents_col))
        )
        .cast("long")
        .alias("b"),
    )
    both_h = halves.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = both_h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(dec("a") * F.col("a")).alias("qa"),
        F.sum(dec("b") * F.col("b")).alias("qb"),
        F.sum(dec("a") * F.col("b")).alias("sab"),
    )
    sb = F.expr(
        f"CAST(ROUND(2 * {_sh_r_expr(dd_spark)} / (1 + {_sh_r_expr(dd_spark)})"
        " * 1000000) AS BIGINT)"
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.expr(
            f"CAST(ROUND({_sh_r_expr(dd_spark)} * 1000000) AS BIGINT)"
        ).alias("half_r_micro"),
        sb.alias("spearman_brown_micro"),
        (sb >= 700000).alias("metric_reliable"),
    )


# ---------------------------------------------------------------- q546
# ICC(1) from one-way ANOVA with unequal group sizes:
# k0 = (N - sum(nj^2)/N) / (G - 1); MSB/MSW from exact moments;
# ICC = (MSB - MSW) / (MSB + (k0 - 1) MSW).
def _icc_exprs(dd) -> dict:
    return {
        "msb": "((CAST(ssb AS DOUBLE)) / (g - 1))",
        "msw": "((CAST(ssw AS DOUBLE)) / (n - g))",
        "k0": (
            f"((CAST(n AS DOUBLE) - {dd('sn2')} / n) / (g - 1))"
        ),
    }


@register(
    "q546_intraclass_correlation",
    f"""
    WITH per_cust AS (
        SELECT o_custkey, COUNT(*) AS nj,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS sj,
               SUM(CAST(CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   AS HUGEINT)
                   * CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS qj
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT COUNT(*) AS g, SUM(nj) AS n, SUM(sj) AS st,
               SUM(qj) AS qt,
               SUM(CAST(nj AS HUGEINT) * nj) AS sn2,
               -- nano-quantized per-group between/within pieces so
               -- the cross-group sums stay exact integers
               SUM(CAST(ROUND(CAST(sj AS DOUBLE) * sj / nj * 1000)
                   AS HUGEINT)) AS ssb_part_milli,
               SUM(qj - CAST(ROUND(CAST(sj AS DOUBLE) * sj / nj)
                   AS HUGEINT)) AS ssw_milli0
        FROM per_cust
    ),
    m AS (
        SELECT g, n, sn2,
               {dd_duck('ssb_part_milli')} / 1000
                   - CAST(st AS DOUBLE) * st / n AS ssb,
               {dd_duck('ssw_milli0')} AS ssw
        FROM s
    ),
    icc AS (
        SELECT g, n,
               {_icc_exprs(dd_duck)['msb']} AS msb,
               {_icc_exprs(dd_duck)['msw']} AS msw,
               {_icc_exprs(dd_duck)['k0']} AS k0
        FROM m
    )
    SELECT CAST(g AS BIGINT) AS n_customers,
           CAST(n AS BIGINT) AS n_orders,
           CAST(ROUND(msb) AS BIGINT) AS ms_between,
           CAST(ROUND(msw) AS BIGINT) AS ms_within,
           CAST(ROUND((msb - msw) / (msb + (k0 - 1) * msw)
               * 1000000) AS BIGINT) AS icc_micro,
           ABS(ROUND((msb - msw) / (msb + (k0 - 1) * msw)
               * 1000000)) < 100000 AS clustering_negligible
    FROM icc
    """,
    doc="Intraclass correlation ICC(1) (one-way ANOVA variance "
    "decomposition: the share of order-value variance BETWEEN "
    "customers vs within — exactly the clustering that makes "
    "q505's delta-method SEs necessary, measured directly; the "
    "fixture's i.i.d. order values imply ICC ~ 0, the null "
    "calibration): per-customer sufficient stats in exact "
    "integers, the between-groups piece per-group quantized "
    "BEFORE the cross-group sum (FP-order-free), unequal group "
    "sizes handled through the standard k0, ICC micro-quantized. "
    "Scale: one groupBy + 1-row math at any size.",
)
def q546_intraclass_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum(cents_col).alias("sj"),
        F.sum(cents_col.cast("decimal(38,0)") * cents_col).alias("qj"),
    )
    s = per_cust.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("nj").alias("n"),
        F.sum("sj").alias("st"),
        F.sum("qj").alias("qt"),
        F.sum(F.col("nj").cast("decimal(38,0)") * F.col("nj")).alias(
            "sn2"
        ),
        F.sum(
            F.round(
                F.col("sj").cast("double") * F.col("sj")
                / F.col("nj")
                * 1000
            ).cast("decimal(38,0)")
        ).alias("ssb_part_milli"),
        F.sum(
            F.col("qj")
            - F.round(
                F.col("sj").cast("double") * F.col("sj") / F.col("nj")
            ).cast("decimal(38,0)")
        ).alias("ssw_milli0"),
    )
    m = s.select(
        "g",
        "n",
        "sn2",
        (
            F.col("ssb_part_milli").cast("double") / 1000
            - F.col("st").cast("double") * F.col("st") / F.col("n")
        ).alias("ssb"),
        F.col("ssw_milli0").cast("double").alias("ssw"),
    )
    icc = m.select(
        "g",
        "n",
        F.expr(_icc_exprs(dd_spark)["msb"]).alias("msb"),
        F.expr(_icc_exprs(dd_spark)["msw"]).alias("msw"),
        F.expr(_icc_exprs(dd_spark)["k0"]).alias("k0"),
    )
    val = F.round(
        (F.col("msb") - F.col("msw"))
        / (F.col("msb") + (F.col("k0") - 1) * F.col("msw"))
        * 1000000
    ).cast("long")
    return icc.select(
        F.col("g").cast("long").alias("n_customers"),
        F.col("n").cast("long").alias("n_orders"),
        F.round("msb").cast("long").alias("ms_between"),
        F.round("msw").cast("long").alias("ms_within"),
        val.alias("icc_micro"),
        (F.abs(val) < 100000).alias("clustering_negligible"),
    )
