"""Round-5 gates, batch 162: Friedman test (q535 — the repeated-
measures nonparametric ANOVA: each month ranks the five regions'
revenues, and systematic rank differences across months mean the
regions genuinely differ; blocks kill the common month effect the
way q499's DiD kills the common trend) and Kruskal-Wallis (q536 —
the UNPAIRED k-group rank test generalizing q533's Mann-Whitney:
pooled midranks from the value histogram, per-group rank sums,
tie-corrected H against the chi-square critical value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

_FRIED_K = 5  # regions
# chi-square critical values at alpha=0.05, df = k-1 = 4
_CHI2_4_MICRO = 9_487_729


@register(
    "q535_friedman_test",
    f"""
    WITH m AS (
        SELECT (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1)
                   AS idx,
               r.r_name,
               SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT))
                   AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    ),
    full_m AS (
        SELECT idx FROM m GROUP BY idx
        HAVING COUNT(*) = {_FRIED_K}
    ),
    ranked AS (
        SELECT m.idx, m.r_name,
               RANK() OVER (PARTITION BY m.idx ORDER BY m.cents)
                   AS rk
        FROM m JOIN full_m f ON f.idx = m.idx
    ),
    rsum AS (
        SELECT r_name, SUM(rk) AS rj, COUNT(*) AS nb
        FROM ranked GROUP BY r_name
    ),
    s AS (
        SELECT MAX(nb) AS n,
               SUM(CAST(rj AS HUGEINT) * rj) AS sumsq
        FROM rsum
    ),
    stat AS (
        SELECT n,
               CAST(ROUND((12.0 * {dd_duck('sumsq')}
                   / (n * {_FRIED_K} * ({_FRIED_K} + 1))
                   - 3.0 * CAST(n AS DOUBLE) * ({_FRIED_K} + 1)) * 1000000)
                   AS BIGINT) AS chi2_micro
        FROM s
    )
    SELECT r.r_name,
           CAST(r.rj AS BIGINT) AS rank_sum,
           CAST(st.n AS BIGINT) AS n_blocks,
           st.chi2_micro,
           st.chi2_micro > {_CHI2_4_MICRO} AS regions_differ
    FROM rsum r CROSS JOIN stat st
    ORDER BY r.r_name
    """,
    doc="Friedman test (repeated-measures nonparametric ANOVA: "
    "each month is a BLOCK ranking the five regions' revenues, "
    "so the common month effect cancels and systematic rank "
    "differences expose genuinely different regions — the k-group "
    "paired companion to q532): within-block ranks come from a "
    "window PARTITIONED by month (five rows per partition — the "
    "scalable window shape), months missing a region are dropped "
    "per the balanced-design requirement, the statistic "
    "chi2 = 12*sum(Rj^2)/(n k (k+1)) - 3 n (k+1) assembles from "
    "exact integer rank sums (ties across regions within a month "
    "are measure-zero for distinct revenue cents and fall back "
    "to RANK consistently on both engines), verdict vs the df=4 "
    "critical value in micros. Scale: one grouped pass + "
    "month-domain ranking.",
)
def q535_friedman_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    m = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(
            (
                F.year("o_orderdate") * 12
                + F.month("o_orderdate")
                - 1
            ).alias("idx"),
            "r_name",
        )
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("cents")
        )
    )
    # Pin the per-(month, region) matrix once (O(months × regions)
    # rows): the full-block filter and the rank pass both re-reference
    # it, and unpinned each re-ran the 4-table join (16 parquet scans
    # in the r10-before plan).
    m = pin(m)
    full_m = (
        m.groupBy("idx")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == _FRIED_K)
        .select("idx")
    )
    ranked = m.join(F.broadcast(full_m), "idx").withColumn(
        "rk",
        F.rank().over(Window.partitionBy("idx").orderBy("cents")),
    )
    # Pin the ≤|regions| rank sums: the statistic and the final
    # projection both re-reference them.
    rsum = pin(
        ranked.groupBy("r_name").agg(
            F.sum("rk").alias("rj"), F.count(F.lit(1)).alias("nb")
        )
    )
    s = rsum.agg(
        F.max("nb").alias("n"),
        F.sum(F.col("rj").cast("decimal(38,0)") * F.col("rj")).alias(
            "sumsq"
        ),
    )
    stat = s.select(
        "n",
        F.round(
            (
                12.0
                * F.col("sumsq")
                / (F.col("n") * _FRIED_K * (_FRIED_K + 1))
                - 3.0 * F.col("n") * (_FRIED_K + 1)
            )
            * 1000000
        )
        .cast("long")
        .alias("chi2_micro"),
    )
    return (
        rsum.crossJoin(F.broadcast(stat))
        .select(
            "r_name",
            F.col("rj").cast("long").alias("rank_sum"),
            F.col("n").cast("long").alias("n_blocks"),
            "chi2_micro",
            (F.col("chi2_micro") > _CHI2_4_MICRO).alias(
                "regions_differ"
            ),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------- q536
# KW H with doubled midranks, rescaled for FP-order-free exactness:
# per-group term_q = ROUND(R2j^2 / (nj * n)) is an integer whose sum
# satisfies sum(Rj^2/nj) ~= n * sum_q / 4, so
# H ~= 3*sum_q/(n+1) - 3(n+1), divided by the tie correction
# C = 1 - sum(t^3-t)/(n^3-n). Per-term rounding error in H is
# O(k/n) — far below the micro quantum at any gate scale — and
# identical on both engines.
def _kw_term_expr(dd) -> str:
    return f"CAST(ROUND({dd('r2j')} * {dd('r2j')} / nj / n) AS BIGINT)"
# chain heads CAST(... AS DOUBLE): bare decimal-literal * int / int
# is DECIMAL division on Spark but DOUBLE on DuckDB (q521-class
# half-ulp hash flake).
def _kw_h_expr(dd) -> str:
    return (
        f"CAST(ROUND((3.0 * {dd('sum_q')} / (n + 1)"
        " - 3.0 * (CAST(n AS DOUBLE) + 1))"
        f" / (1.0 - {dd('tie3')}"
        "    / (CAST(n AS DOUBLE) * n * n - n)) * 1000000) AS BIGINT)"
    )


@register(
    "q536_kruskal_wallis",
    f"""
    WITH pooled AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    hist AS (
        SELECT cents, COUNT(*) AS c FROM pooled GROUP BY cents
    ),
    cum AS (
        SELECT cents, c,
               SUM(c) OVER (ORDER BY cents) - c AS bef
        FROM hist
    ),
    ranked AS (
        SELECT p.grp, 2 * cum.bef + cum.c + 1 AS r2
        FROM pooled p JOIN cum ON cum.cents = p.cents
    ),
    byg AS (
        SELECT grp, COUNT(*) AS nj,
               SUM(CAST(r2 AS HUGEINT)) AS r2j
        FROM ranked GROUP BY grp
    ),
    tot AS (SELECT SUM(nj) AS n FROM byg),
    terms AS (
        SELECT {_kw_term_expr(dd_duck)} AS term_q
        FROM byg CROSS JOIN tot
    ),
    s AS (
        SELECT (SELECT n FROM tot) AS n,
               SUM(term_q) AS sum_q,
               (SELECT SUM(CAST(c AS HUGEINT) * c * c - c)
                FROM hist) AS tie3
        FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM byg) AS BIGINT) AS n_groups,
           {_kw_h_expr(dd_duck)} AS h_micro,
           {_kw_h_expr(dd_duck)} > {_CHI2_4_MICRO} AS groups_differ
    FROM s
    """,
    doc="Kruskal-Wallis (unpaired k-group rank test generalizing "
    "q533's Mann-Whitney: pooled midranks, per-group rank sums, "
    "H = 12/(n(n+1)) sum(Rj^2/nj) - 3(n+1) with the tie "
    "correction 1 - sum(t^3-t)/(n^3-n)): midranks come from the "
    "value histogram's exclusive prefix (doubled: 2*bef+c+1, "
    "exact integers through ties), each row picks up its cell's "
    "rank by an equi-join on the value, per-group sums stay in "
    "HUGEINT/DECIMAL(38), H quantized through shared expression "
    "text; the order-priority groups are exchangeable labels so "
    "the test must NOT reject. Scale: one scan to the histogram, "
    "one join back, group-domain metadata after.",
)
def q536_kruskal_wallis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pooled = o.select(
        F.col("o_orderpriority").alias("grp"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    # cents are near-distinct (histogram ~ table-sized): block-offset
    # prefix, no single-task global window. Pin the histogram ONCE —
    # prefix_agg (cache_input=False), tie3, and the rank join-back
    # all read this same materialization instead of prefix_agg
    # pinning a private copy while tie3 re-runs the scan + groupBy.
    hist = pin(pooled.groupBy("cents").agg(F.count(F.lit(1)).alias("c")))
    cum = prefix_agg(
        hist, [("cents", "asc")], {"bef": ("sum", "c")},
        cache_input=False,
    )
    ranked = pooled.join(cum, "cents").select(
        "grp", (2 * F.col("bef") + F.col("c") + 1).alias("r2")
    )
    # Pin the per-group rank sums (≤ |o_orderpriority| rows): byg is
    # referenced three times below (ngroups, tot, terms), and without
    # the pin each reference re-runs the pooled scan + rank join +
    # groupBy (27 Exchange nodes in the r10-before plan).
    byg = pin(
        ranked.groupBy("grp").agg(
            F.count(F.lit(1)).alias("nj"),
            F.sum(F.col("r2").cast("decimal(38,0)")).alias("r2j"),
        )
    )
    tie3 = hist.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3")
    )
    ngroups = byg.agg(F.count(F.lit(1)).alias("n_groups"))
    tot = byg.agg(F.sum("nj").alias("n"))
    terms = byg.crossJoin(F.broadcast(tot)).select(
        F.expr(_kw_term_expr(dd_spark)).alias("term_q")
    )
    s = (
        terms.agg(F.sum("term_q").alias("sum_q"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tie3))
        .crossJoin(F.broadcast(ngroups))
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.expr(_kw_h_expr(dd_spark)).alias("h_micro"),
        (F.expr(_kw_h_expr(dd_spark)) > _CHI2_4_MICRO).alias("groups_differ"),
    )
