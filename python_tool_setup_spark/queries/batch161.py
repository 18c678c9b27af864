"""Round-5 gates, batch 161: Mann-Whitney U (q533 — the UNPAIRED
nonparametric two-sample test, completing the trio with q521's CvM
and q532's paired Wilcoxon: pooled midranks from the value
histogram, U from one rank sum, tie-corrected normal z; doubled
ranks keep everything in exact integers through ties) and the
Wald-Wolfowitz runs test (q534 — the randomness check Ljung-Box
(q454) complements: signs of monthly revenue around the median
should alternate randomly; too few runs means trend, too many
means oscillation — counted with one adjacent comparison over the
month domain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

# z for doubled-rank U: U2 = 2U, E[U2] = n1*n2, Var[U2] scales by 4:
# Var = 4 * (n1 n2 / (n(n-1))) * ((n^3 - n - sum(t^3 - t)) / 12)
def _mwu_z_expr(dd) -> str:
    return (
        f"ROUND(({dd('u2')} - CAST(n1 AS DOUBLE) * n2)"
        " / SQRT(4.0 * CAST(n1 AS DOUBLE) * n2 / (CAST(n AS DOUBLE) * (n - 1))"
        f"   * ((CAST(n AS DOUBLE) * n * n - n - {dd('tie3')})"
        "      / 12)), 4)"
    )


@register(
    "q533_mann_whitney_u",
    f"""
    WITH pooled AS (
        SELECT o_custkey % 2 = 0 AS is_a,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    hist AS (
        SELECT cents, COUNT(*) AS c,
               SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca
        FROM pooled GROUP BY cents
    ),
    cum AS (
        SELECT cents, c, ca,
               SUM(c) OVER (ORDER BY cents) - c AS bef
        FROM hist
    ),
    s AS (
        SELECT SUM(ca) AS n1, SUM(c - ca) AS n2, SUM(c) AS n,
               -- doubled midrank 2*bef + c + 1, summed over A rows
               SUM(CAST(ca AS HUGEINT) * (2 * bef + c + 1)) AS ra2,
               (SELECT SUM(CAST(c AS HUGEINT) * c * c - c)
                FROM hist) AS tie3
        FROM cum
    ),
    u AS (
        SELECT n1, n2, n, tie3,
               ra2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u2
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           CAST(u2 AS BIGINT) AS u_x2,
           CAST({_mwu_z_expr(dd_duck)} AS DOUBLE) AS z,
           ABS({_mwu_z_expr(dd_duck)}) > 1.96 AS distributions_differ
    FROM u
    """,
    doc="Mann-Whitney U (unpaired nonparametric two-sample test — "
    "completes the trio with q521 CvM and q532 paired Wilcoxon): "
    "pooled midranks come straight from the value histogram's "
    "exclusive prefix (doubled midrank 2*bef+c+1 — exact integer "
    "through ties), the A-side rank sum weights each histogram "
    "cell by its A-count (never a per-row rank join), U from the "
    "closed form, tie-corrected z through shared expression "
    "text. A/A parity split expects no rejection. Scale: one "
    "scan to the histogram, value-domain metadata after.",
)
def q533_mann_whitney_u(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pooled = o.select(
        (F.col("o_custkey") % 2 == 0).alias("is_a"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    # cents are near-distinct, so the histogram is close to
    # table-sized: the prefix runs through the block-offset
    # decomposition, not a single-task global window. Pin the
    # histogram ONCE here — prefix_agg (cache_input=False), tie3,
    # and the rank aggregate all read this same materialization,
    # instead of prefix_agg pinning a private copy while tie3
    # re-runs the pooled scan + groupBy from lineage.
    hist = pin(
        pooled.groupBy("cents").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("is_a").cast("long")).alias("ca"),
        )
    )
    cum = prefix_agg(
        hist, [("cents", "asc")], {"bef": ("sum", "c")},
        cache_input=False,
    )
    tie3 = hist.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3")
    )
    s = cum.agg(
        F.sum("ca").alias("n1"),
        F.sum(F.col("c") - F.col("ca")).alias("n2"),
        F.sum("c").alias("n"),
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("bef") + F.col("c") + 1)
        ).alias("ra2"),
    ).crossJoin(F.broadcast(tie3))
    u = s.select(
        "n1",
        "n2",
        "n",
        "tie3",
        (
            F.col("ra2")
            - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
        ).alias("u2"),
    )
    # u_x2 leaves as BIGINT, never DECIMAL (the driver-hash
    # divergence class — see q521's note): u2 = 2U <= 2*n1*n2 ~ n^2/2
    # stays under 2^63 up to n ~ 4.3e9 orders; internal rank math
    # stays DECIMAL(38)-exact regardless.
    return u.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.col("u2").cast("long").alias("u_x2"),
        F.expr(_mwu_z_expr(dd_spark)).cast("double").alias("z"),
        (F.abs(F.expr(_mwu_z_expr(dd_spark))) > 1.96).alias(
            "distributions_differ"
        ),
    )


# ---------------------------------------------------------------- q534
# every multiplicative chain starts from a CAST(... AS DOUBLE): a
# bare `2.0 * n1 * n2 / k` is DECIMAL-typed division on Spark
# (rounded at scale 6) but DOUBLE on DuckDB — a latent half-ulp hash
# flake of the q521 class, plus a DuckDB DECIMAL overflow at sf>=0.1.
_RUNS_Z_EXPR = (
    "ROUND((CAST(runs AS DOUBLE)"
    " - (2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2) + 1))"
    " / SQRT(2.0 * CAST(n1 AS DOUBLE) * n2"
    "   * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)"
    "   / ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2)"
    "      * (n1 + n2 - 1))), 4)"
)


@register(
    "q534_runs_test",
    f"""
    WITH m AS (
        SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
                   AS idx,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT CAST(ROUND(2 * QUANTILE_CONT(cents, 0.5)) AS BIGINT)
            AS med2 FROM m
    ),
    signs AS (
        SELECT idx,
               CASE WHEN 2 * cents > med.med2 THEN 1 ELSE 0 END
                   AS above
        FROM m CROSS JOIN med
        WHERE 2 * cents <> med.med2
    ),
    seq AS (
        SELECT above,
               LAG(above) OVER (ORDER BY idx) AS prev
        FROM signs
    ),
    s AS (
        SELECT SUM(above) AS n1,
               SUM(1 - above) AS n2,
               SUM(CASE WHEN prev IS NULL OR above <> prev
                   THEN 1 ELSE 0 END) AS runs
        FROM seq
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           CAST({_RUNS_Z_EXPR} AS DOUBLE) AS z,
           ABS({_RUNS_Z_EXPR}) > 1.96 AS non_random
    FROM s
    """,
    doc="Wald-Wolfowitz runs test (randomness of monthly revenue "
    "around its median: too FEW sign runs means trend/level "
    "drift, too MANY means oscillation — the complement to q454 "
    "Ljung-Box autocorrelation): the median from quantile_cont "
    "doubled to dodge .5 comparisons, exact-median months "
    "excluded per the classic recipe, runs counted by one "
    "adjacent LAG comparison over the month domain, and the "
    "normal-approximation z through shared expression text. "
    "Scale: the data pass is the monthly groupBy; the test runs "
    "on month-domain metadata.",
)
def q534_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("idx")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    med = grouped_exact_percentiles(
        m.withColumn("one", F.lit(1)), ["one"], "cents", {"p50": 0.5}
    ).select(F.round(2 * F.col("p50")).cast("long").alias("med2"))
    signs = (
        m.crossJoin(F.broadcast(med))
        .filter(2 * F.col("cents") != F.col("med2"))
        .select(
            "idx",
            (2 * F.col("cents") > F.col("med2"))
            .cast("long")
            .alias("above"),
        )
    )
    seq = signs.select(
        "above",
        # bounded-domain: idx is a calendar-month index (~tens of rows)
        F.lag("above").over(Window.orderBy("idx")).alias("prev"),
    )
    s = seq.agg(
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
        F.sum(
            (
                F.col("prev").isNull()
                | (F.col("above") != F.col("prev"))
            ).cast("long")
        ).alias("runs"),
    )
    return s.select(
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("runs").cast("long").alias("n_runs"),
        F.expr(_RUNS_Z_EXPR).cast("double").alias("z"),
        (F.abs(F.expr(_RUNS_Z_EXPR)) > 1.96).alias("non_random"),
    )
