"""Round-5 gates, batch 147: ratio-metric delta-method variance
(q505 — most product metrics are ratios of sums (revenue per
order, items per session) whose units are clustered by user, so
the naive per-row variance is WRONG; the delta method gives
var(X/Y) from per-cluster sufficient statistics including the
covariance term — the standard error every A/B platform actually
ships) and CUPED variance reduction (q506 — the industry-standard
pre-period adjustment: theta = cov(post, pre)/var(pre), adjusted
metric y - theta*(x - mean(x)); the variance-reduction percentage
IS the experiment-speedup evidence, and both moments come from one
exact-integer sufficient-stats aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

# Shared expression SHAPE (exact DECIMAL/BIGINT inputs -> identical
# doubles on both engines). Delta method for R = S/T over n clusters:
# var(R) ~ (var_s - 2 R cov + R^2 var_t) / (n * mean_t^2).
# Every integer moment enters double math through the two-limb
# correctly-rounded conversion (exactcast.py — DuckDB's native
# HUGEINT->DOUBLE cast mis-rounds ~1.4% of >2^53 values; multi-seed
# catch #6, seed 2468, flipped this gate's var_ratio_micro).
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark


def _ratio_expr(dd) -> str:
    return f"{dd('s')} / {dd('t')}"


def _varr_micro_expr(dd) -> str:
    r = f"({dd('s')} / {dd('t')})"
    return (
        "CAST(ROUND(("
        f" ({dd('qs')} - {dd('s')} * {dd('s')} / n) / (n - 1)"
        f" - 2 * {r}"
        f"   * (({dd('qst')} - {dd('s')} * {dd('t')} / n) / (n - 1))"
        f" + {r} * {r}"
        f"   * (({dd('qt')} - {dd('t')} * {dd('t')} / n) / (n - 1))"
        f") / (n * ({dd('t')} / n) * ({dd('t')} / n))"
        " * 1000000) AS BIGINT)"
    )


@register(
    "q505_ratio_metric_delta_method",
    f"""
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS x,
               COUNT(*) AS y
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS s, SUM(y) AS t,
               SUM(CAST(x AS HUGEINT) * x) AS qs,
               SUM(CAST(y AS HUGEINT) * y) AS qt,
               SUM(CAST(x AS HUGEINT) * y) AS qst
        FROM per_cust
    )
    SELECT CAST(n AS BIGINT) AS n_clusters,
           CAST(s AS BIGINT) AS sum_cents,
           CAST(t AS BIGINT) AS sum_orders,
           CAST(ROUND({_ratio_expr(dd_duck)}) AS BIGINT)
               AS revenue_per_order_cents,
           {_varr_micro_expr(dd_duck)} AS var_ratio_micro,
           CAST(ROUND(SQRT({_varr_micro_expr(dd_duck)} / 1000000.0))
               AS BIGINT) AS stderr_cents
    FROM s
    """,
    doc="Ratio-metric delta-method variance (revenue per order is a "
    "ratio of sums CLUSTERED BY CUSTOMER — treating orders as "
    "independent rows understates the variance whenever customers "
    "differ; the delta method gives var(S/T) = (var_s - 2R cov + "
    "R^2 var_t)/(n mean_t^2) from per-cluster sufficient stats "
    "including the cross-moment): one customer-level aggregate "
    "(exact cents / HUGEINT-DECIMAL(38) squares and cross "
    "products), then one 6-value reduction; ratio, variance and "
    "standard error derived through shared expression text, "
    "micro-quantized. Scale: the estimator is one groupBy + one "
    "1-row reduce at any data size — no bootstrap resampling "
    "needed for a clustered ratio SE.",
)
def q505_ratio_metric_delta_method(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    s = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum("y").alias("t"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias(
            "qs"
        ),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
            "qt"
        ),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias(
            "qst"
        ),
    )
    return s.select(
        F.col("n").cast("long").alias("n_clusters"),
        F.col("s").cast("long").alias("sum_cents"),
        F.col("t").cast("long").alias("sum_orders"),
        F.round(F.expr(_ratio_expr(dd_spark)))
        .cast("long")
        .alias("revenue_per_order_cents"),
        F.expr(_varr_micro_expr(dd_spark)).alias("var_ratio_micro"),
        F.round(F.sqrt(F.expr(_varr_micro_expr(dd_spark)) / 1000000.0))
        .cast("long")
        .alias("stderr_cents"),
    )


# ---------------------------------------------------------------- q506
_CUPED_CUTOFF = "1997-01-01"

def _theta_micro_expr(dd) -> str:
    return (
        f"CAST(ROUND((({dd('qxy')} - {dd('sx')} * {dd('sy')} / n)"
        " / (n - 1))"
        f" / (({dd('qx')} - {dd('sx')} * {dd('sx')} / n) / (n - 1))"
        " * 1000000) AS BIGINT)"
    )


# variance reduction = rho^2 = cov^2 / (var_x var_y), in ppm
def _vr_ppm_expr(dd) -> str:
    cov = f"({dd('qxy')} - {dd('sx')} * {dd('sy')} / n)"
    return (
        f"CAST(ROUND(({cov} * {cov})"
        f" / (({dd('qx')} - {dd('sx')} * {dd('sx')} / n)"
        f"    * ({dd('qy')} - {dd('sy')} * {dd('sy')} / n))"
        " * 1000000) AS BIGINT)"
    )


@register(
    "q506_cuped_variance_reduction",
    f"""
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CASE WHEN o_orderdate < DATE '{_CUPED_CUTOFF}'
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   ELSE 0 END) AS x,
               SUM(CASE WHEN o_orderdate >= DATE '{_CUPED_CUTOFF}'
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   ELSE 0 END) AS y
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS qx,
               SUM(CAST(y AS HUGEINT) * y) AS qy,
               SUM(CAST(x AS HUGEINT) * y) AS qxy
        FROM per_cust
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(ROUND({dd_duck('sy')} / n) AS BIGINT)
               AS mean_post_cents,
           {_theta_micro_expr(dd_duck)} AS theta_micro,
           {_vr_ppm_expr(dd_duck)} AS variance_reduction_ppm,
           {_vr_ppm_expr(dd_duck)} >= 100000 AS cuped_worth_it
    FROM s
    """,
    doc="CUPED variance reduction (the industry-standard pre-period "
    "adjustment for experiments: theta = cov(post, pre)/var(pre), "
    "adjusted metric y - theta*(x - mean x); the achieved variance "
    "reduction is exactly rho^2, and reporting it IS the "
    "experiment-speedup evidence — 30% reduction means 30% fewer "
    "samples for the same power): pre/post per-customer totals in "
    "exact cents from one conditional aggregate, all five moments "
    "(sums, squares, cross product) in HUGEINT/DECIMAL(38), theta "
    "and rho^2 derived through shared expression text and "
    "quantized. Scale: one groupBy + a 1-row reduction; the "
    "covariate never needs a second scan because pre and post "
    "come from the same pass.",
)
def q506_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit(_CUPED_CUTOFF), cents_col
            ).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit(_CUPED_CUTOFF), cents_col
            ).otherwise(0)
        ).alias("y"),
    )
    s = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias(
            "qx"
        ),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
            "qy"
        ),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias(
            "qxy"
        ),
    )
    return s.select(
        F.col("n").cast("long").alias("n_units"),
        F.round(F.col("sy").cast("double") / F.col("n"))
        .cast("long")
        .alias("mean_post_cents"),
        F.expr(_theta_micro_expr(dd_spark)).alias("theta_micro"),
        F.expr(_vr_ppm_expr(dd_spark)).alias("variance_reduction_ppm"),
        (F.expr(_vr_ppm_expr(dd_spark)) >= 100000).alias("cuped_worth_it"),
    )
