"""Round-5 gates, batch 166: partial correlation (q543 — the
confounder-controlled association: r_xy.z = (r_xy - r_xz r_yz) /
sqrt((1-r_xz^2)(1-r_yz^2)) strips z's influence from both sides,
the first question after any raw correlation — "does it survive
controlling for the obvious confounder?"; the whole 3-variable
moment matrix comes from ONE aggregate) and covariate balance SMD
(q544 — the propensity/randomization diagnostic every causal
analysis prints first: per covariate the standardized mean
difference between arms, |SMD| < 0.1 meaning balanced; an A/A
parity split must come out balanced on every covariate — the
null calibration of the whole causal pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import (
    cents,
    cents_sql,
    dd_duck,
    dd_spark,
)
from python_tool_setup_spark.tables import load_table

# Pearson r between a pair, from exact integer moments (n, sums,
# squares, cross), micro-quantized — instantiated per pair by
# suffix substitution so all three pairs share one template.
def _r_expr(a: str, b: str, dd) -> str:
    return (
        f"((CAST(n AS DOUBLE) * {dd(f's{a}{b}')} - {dd(f's{a}')} * {dd(f's{b}')})"
        f" / SQRT((CAST(n AS DOUBLE) * {dd(f'q{a}')} - {dd(f's{a}')}"
        f" * {dd(f's{a}')}) * (CAST(n AS DOUBLE) * {dd(f'q{b}')}"
        f" - {dd(f's{b}')} * {dd(f's{b}')})))"
    )


def _pc_expr(dd) -> str:
    return (
        "CAST(ROUND(("
        + _r_expr("x", "y", dd)
        + " - "
        + _r_expr("x", "z", dd)
        + " * "
        + _r_expr("y", "z", dd)
        + ") / SQRT((1 - "
        + _r_expr("x", "z", dd)
        + " * "
        + _r_expr("x", "z", dd)
        + ") * (1 - "
        + _r_expr("y", "z", dd)
        + " * "
        + _r_expr("y", "z", dd)
        + ")) * 1000000) AS BIGINT)"
    )

# DuckDB-dialect text ('//' integer division) — oracle-side only; the
# Spark side instantiates _pc_expr(dd_spark) at the use site so the
# dialect is visible at the definition (ADVICE r8).
_PC_EXPR = _pc_expr(dd_duck)


@register(
    "q543_partial_correlation",
    f"""
    WITH v AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
               CAST(ROUND(100 * l_extendedprice) AS BIGINT) AS y,
               CAST(ROUND(l_discount * 10000) AS BIGINT) AS z
        FROM lineitem
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
               SUM(CAST(x AS HUGEINT) * x) AS qx,
               SUM(CAST(y AS HUGEINT) * y) AS qy,
               SUM(CAST(z AS HUGEINT) * z) AS qz,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * z) AS sxz,
               SUM(CAST(y AS HUGEINT) * z) AS syz
        FROM v
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(ROUND({_r_expr('x', 'y', dd_duck)} * 1000000) AS BIGINT)
               AS r_xy_micro,
           CAST(ROUND({_r_expr('x', 'z', dd_duck)} * 1000000) AS BIGINT)
               AS r_xz_micro,
           CAST(ROUND({_r_expr('y', 'z', dd_duck)} * 1000000) AS BIGINT)
               AS r_yz_micro,
           {_PC_EXPR} AS r_xy_given_z_micro,
           ABS({_PC_EXPR}
               - CAST(ROUND({_r_expr('x', 'y', dd_duck)} * 1000000)
                      AS BIGINT)) < 50000 AS confounder_negligible
    FROM s
    """,
    doc="Partial correlation (confounder control in closed form: "
    "r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)) — the "
    "'does the association survive controlling for z?' question; "
    "here quantity-vs-price controlling for discount, where the "
    "independent discount must leave the raw correlation almost "
    "unchanged — the null calibration): the full 3-variable "
    "moment matrix (counts, sums, squares, cross products in "
    "exact HUGEINT/DECIMAL(38) integers) comes from ONE "
    "aggregate; every r and the partial assemble through shared "
    "expression text and quantize once. Scale: one scan, 1-row "
    "math.",
)
def q543_partial_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round("l_quantity").cast("long").alias("x"),
        cents(F.col("l_extendedprice")).alias("y"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("z"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(dec("x") * F.col("x")).alias("qx"),
        F.sum(dec("y") * F.col("y")).alias("qy"),
        F.sum(dec("z") * F.col("z")).alias("qz"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("z")).alias("sxz"),
        F.sum(dec("y") * F.col("z")).alias("syz"),
    )
    rxy = F.expr(
        f"CAST(ROUND({_r_expr('x', 'y', dd_spark)} * 1000000) AS BIGINT)"
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        rxy.alias("r_xy_micro"),
        F.expr(
            f"CAST(ROUND({_r_expr('x', 'z', dd_spark)} * 1000000) AS BIGINT)"
        ).alias("r_xz_micro"),
        F.expr(
            f"CAST(ROUND({_r_expr('y', 'z', dd_spark)} * 1000000) AS BIGINT)"
        ).alias("r_yz_micro"),
        F.expr(_pc_expr(dd_spark)).alias("r_xy_given_z_micro"),
        (F.abs(F.expr(_pc_expr(dd_spark)) - rxy) < 50000).alias(
            "confounder_negligible"
        ),
    )


# ---------------------------------------------------------------- q544
# SMD = (mean_t - mean_c)/sqrt((var_t + var_c)/2), milli-quantized.
def _smd_expr(dd) -> str:
    return (
        "CAST(ROUND((CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc)"
        f" / SQRT(((({dd('qt')} - CAST(st AS DOUBLE) * st / nt)"
        "          / (nt - 1))"
        f"         + (({dd('qc')} - CAST(sc AS DOUBLE) * sc / nc)"
        "            / (nc - 1))) / 2) * 1000) AS BIGINT)"
    )

_SMD_COVS = [
    ("acctbal_cents", cents_sql("c_acctbal")),
    ("nationkey", "CAST(c_nationkey AS BIGINT)"),
    (
        "segment_is_building",
        "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END",
    ),
]


def _smd_block(name: str, expr: str) -> str:
    return f"""
    SELECT '{name}' AS covariate, nt, nc, {_smd_expr(dd_duck)} AS smd_milli,
           ABS({_smd_expr(dd_duck)}) < 100 AS balanced
    FROM (
        SELECT SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN t THEN 0 ELSE 1 END) AS nc,
               SUM(CASE WHEN t THEN v ELSE 0 END) AS st,
               SUM(CASE WHEN t THEN 0 ELSE v END) AS sc,
               SUM(CASE WHEN t THEN CAST(v AS HUGEINT) * v
                   ELSE 0 END) AS qt,
               SUM(CASE WHEN t THEN 0
                   ELSE CAST(v AS HUGEINT) * v END) AS qc
        FROM (SELECT c_custkey % 2 = 0 AS t, {expr} AS v
              FROM customer)
    )
    """


@register(
    "q544_covariate_balance_smd",
    "SELECT covariate, CAST(nt AS BIGINT) AS n_treat,"
    " CAST(nc AS BIGINT) AS n_control, smd_milli, balanced"
    " FROM (\n"
    + "\nUNION ALL\n".join(_smd_block(n, e) for n, e in _SMD_COVS)
    + "\n) ORDER BY covariate",
    doc="Covariate balance SMD table (the first diagnostic of any "
    "causal analysis: per covariate the standardized mean "
    "difference between arms, |SMD| < 0.1 = balanced — "
    "randomization and propensity matching are both judged by "
    "exactly this table): each covariate (continuous balance, "
    "ordinal nation key, a one-hot segment flag) reduces to one "
    "conditional aggregate of exact integers, SMD milli-"
    "quantized through shared expression text; A/A parity arms "
    "must balance on every covariate — the null calibration of "
    "the causal pipeline. Scale: one scan per covariate (or one "
    "shared scan with more conditional columns), 3 metadata "
    "rows.",
)
def q544_covariate_balance_smd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # ONE stacked aggregation pass over customer (the q484/q475
    # recipe): all three covariates' sums are columns of a single agg
    # — the old per-covariate union scanned customer once per
    # covariate for 3 metadata rows. The per-covariate aggregates are
    # verbatim the same expressions (nt/nc are covariate-independent
    # and computed once), the explode is bounded by |_SMD_COVS| = 3,
    # and _smd_expr runs on the exploded rows where the bare st/qt/...
    # names are in scope again — values bit-identical.
    src = c.select(
        (F.col("c_custkey") % 2 == 0).alias("t"),
        *[F.expr(expr).alias(f"v_{name}") for name, expr in _SMD_COVS],
    )
    cols = [
        F.sum(F.col("t").cast("long")).alias("nt"),
        F.sum((~F.col("t")).cast("long")).alias("nc"),
    ]
    for name, _ in _SMD_COVS:
        v = F.col(f"v_{name}")
        cols.extend(
            [
                F.sum(F.when(F.col("t"), v).otherwise(0)).alias(
                    f"st_{name}"
                ),
                F.sum(F.when(~F.col("t"), v).otherwise(0)).alias(
                    f"sc_{name}"
                ),
                F.sum(
                    F.when(
                        F.col("t"), v.cast("decimal(38,0)") * v
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"qt_{name}"),
                F.sum(
                    F.when(
                        ~F.col("t"), v.cast("decimal(38,0)") * v
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"qc_{name}"),
            ]
        )
    one = src.agg(*cols)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("covariate"),
                        F.col("nt"),
                        F.col("nc"),
                        F.col(f"st_{name}").alias("st"),
                        F.col(f"sc_{name}").alias("sc"),
                        F.col(f"qt_{name}").alias("qt"),
                        F.col(f"qc_{name}").alias("qc"),
                    )
                    for name, _ in _SMD_COVS
                ]
            )
        ).alias("s")
    ).select("s.*")
    return (
        stacked.select(
            "covariate",
            F.col("nt").cast("long").alias("n_treat"),
            F.col("nc").cast("long").alias("n_control"),
            F.expr(_smd_expr(dd_spark)).alias("smd_milli"),
            (F.abs(F.expr(_smd_expr(dd_spark))) < 100).alias("balanced"),
        )
        .orderBy("covariate")
    )
