"""Round-5 gates, batch 160: binary-segmentation change-point
location (q531 — q490's CUSUM says IF the level shifted; binary
segmentation says WHERE: evaluate every candidate split of the
monthly series and return the one maximizing the two-sample t —
the first round of the classic recursive segmentation, computed
entirely from prefix sufficient statistics over the month domain)
and Wilcoxon signed-rank (q532 — the PAIRED nonparametric test the
suite lacked: months pair the two regions' revenues naturally, the
signed midranks of |difference| give T+, and the tie-corrected
normal approximation gives the z; every rank is doubled to stay in
exact integers through ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

# two-sample t at a split, micro-quantized from exact integer
# prefix sufficient stats (shared verbatim).
def _bs_t_expr(dd) -> str:
    return (
        f"CAST(ROUND(ABS(CAST(sl AS DOUBLE) / nl - CAST(s - sl AS DOUBLE)"
        " / (n - nl))"
        f" / SQRT(((({dd('ql')} - CAST(sl AS DOUBLE) * sl / nl)"
        f"          + ({dd('q - ql')}"
        "             - CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl)))"
        "         / (n - 2)) * (1.0 / nl + 1.0 / (n - nl)))"
        " * 1000000) AS BIGINT)"
    )


@register(
    "q531_binary_segmentation",
    f"""
    WITH m AS (
        SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
                   AS idx,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents
        FROM orders GROUP BY 1
    ),
    pre AS (
        SELECT idx,
               ROW_NUMBER() OVER (ORDER BY idx) AS pos,
               SUM(cents) OVER (ORDER BY idx) AS sl,
               SUM(CAST(cents AS HUGEINT) * cents)
                   OVER (ORDER BY idx) AS ql
        FROM m
    ),
    tot AS (
        SELECT COUNT(*) AS n, SUM(cents) AS s,
               SUM(CAST(cents AS HUGEINT) * cents) AS q
        FROM m
    ),
    scored AS (
        SELECT p.idx, p.pos AS nl, p.sl, p.ql, t.n, t.s, t.q,
               {_bs_t_expr(dd_duck)} AS t_micro
        FROM pre p CROSS JOIN tot t
        WHERE p.pos >= 2 AND p.pos <= t.n - 2
    )
    SELECT CAST(idx AS BIGINT) AS split_after_month,
           CAST(nl AS BIGINT) AS n_left,
           CAST(n - nl AS BIGINT) AS n_right,
           CAST(ROUND(CAST(sl AS DOUBLE) / nl) AS BIGINT)
               AS mean_left_cents,
           CAST(ROUND(CAST(s - sl AS DOUBLE) / (n - nl)) AS BIGINT)
               AS mean_right_cents,
           t_micro,
           t_micro > 1960000 AS significant_shift
    FROM scored
    ORDER BY t_micro DESC, idx LIMIT 1
    """,
    doc="Binary-segmentation change-point location (q490's CUSUM "
    "flags THAT the level shifted; this finds WHERE: every "
    "candidate split of the monthly series is scored with the "
    "two-sample t from pooled variance, and the argmax split is "
    "the round-1 segmentation estimate): all split scores come "
    "from ONE cumulative pass over the month domain (prefix "
    "count/sum/sum-of-squares in exact HUGEINT/DECIMAL(38)), the "
    "t micro-quantized through shared expression text, argmax "
    "tie-broken by month deterministically. Scale: one monthly "
    "groupBy is the data pass; candidate scoring is month-domain "
    "metadata (the q309/q320 block-offset family carries the "
    "prefix when the domain grows).",
)
def q531_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("idx")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    # bounded-domain: idx is a calendar-month index (~tens of rows at
    # any data size); same for the row_number below
    wc = Window.orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = m.select(
        "idx",
        # bounded-domain: month index
        F.row_number().over(Window.orderBy("idx")).alias("pos"),
        F.sum("cents").over(wc).alias("sl"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .over(wc)
        .alias("ql"),
    )
    tot = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("q"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("pos") >= 2) & (F.col("pos") <= F.col("n") - 2)
        )
        .select(
            "idx",
            F.col("pos").alias("nl"),
            "sl",
            "ql",
            "n",
            "s",
            "q",
            F.expr(_bs_t_expr(dd_spark)).alias("t_micro"),
        )
    )
    return (
        scored.select(
            F.col("idx").cast("long").alias("split_after_month"),
            F.col("nl").cast("long").alias("n_left"),
            (F.col("n") - F.col("nl")).cast("long").alias("n_right"),
            F.round(F.col("sl").cast("double") / F.col("nl"))
            .cast("long")
            .alias("mean_left_cents"),
            F.round(
                (F.col("s") - F.col("sl")).cast("double")
                / (F.col("n") - F.col("nl"))
            )
            .cast("long")
            .alias("mean_right_cents"),
            "t_micro",
            (F.col("t_micro") > 1_960_000).alias(
                "significant_shift"
            ),
        )
        .orderBy(F.col("t_micro").desc(), "split_after_month")
        .limit(1)
    )


# ---------------------------------------------------------------- q532
_WSR_REGION_A = "AMERICA"
_WSR_REGION_B = "EUROPE"

# z from exact doubled-rank integers: z = (2T+ - n(n+1)/2) /
# sqrt(n(n+1)(2n+1)/6 - tie_term/ 2)  [doubled-rank scaling of the
# classic variance n(n+1)(2n+1)/24 and tie correction sum(t^3-t)/48]
def _wsr_z_expr(dd) -> str:
    return (
        "ROUND((CAST(tplus2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2)"
        " / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6"
        f"        - {dd('tie3')} / 12), 4)"
    )


@register(
    "q532_wilcoxon_signed_rank",
    f"""
    WITH m AS (
        SELECT (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1)
                   AS idx,
               SUM(CASE WHEN r.r_name = '{_WSR_REGION_A}'
                   THEN CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                   ELSE 0 END)
               - SUM(CASE WHEN r.r_name = '{_WSR_REGION_B}'
                   THEN CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                   ELSE 0 END) AS d
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name IN ('{_WSR_REGION_A}', '{_WSR_REGION_B}')
        GROUP BY 1
    ),
    nz AS (SELECT idx, d, ABS(d) AS ad FROM m WHERE d <> 0),
    hist AS (SELECT ad, COUNT(*) AS c FROM nz GROUP BY ad),
    cum AS (
        SELECT ad, c,
               SUM(c) OVER (ORDER BY ad) - c AS bef
        FROM hist
    ),
    -- doubled midrank: 2*(bef + (c+1)/2) = 2*bef + c + 1 (integer!)
    ranked AS (
        SELECT nz.idx, nz.d, 2 * cum.bef + cum.c + 1 AS r2
        FROM nz JOIN cum ON cum.ad = nz.ad
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS tplus2,
               (SELECT SUM(CAST(c AS HUGEINT) * c * c - c)
                FROM hist) AS tie3
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(tplus2 AS BIGINT) AS t_plus_x2,
           CAST({_wsr_z_expr(dd_duck)} AS DOUBLE) AS z,
           ABS({_wsr_z_expr(dd_duck)}) > 1.96 AS regions_differ
    FROM s
    """,
    doc="Wilcoxon signed-rank test (the PAIRED nonparametric test: "
    "months pair the two regions' revenues, |differences| are "
    "midranked — ties get the average rank — and T+ sums the "
    "ranks of positive differences; the tie-corrected normal "
    "approximation gives z): ranks come from the |d| value "
    "histogram's exclusive prefix (2*bef + c + 1 IS the doubled "
    "midrank — exact integer, no .5s), T+ and the tie term "
    "accumulate in exact integers, and z is quantized through "
    "shared expression text. Scale: the data pass is the monthly "
    "conditional aggregate; ranking runs over the difference "
    "value domain.",
)
def q532_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents_col = cents(F.col("o_totalprice"))
    m = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name").isin(_WSR_REGION_A, _WSR_REGION_B))
        .groupBy(
            (
                F.year("o_orderdate") * 12
                + F.month("o_orderdate")
                - 1
            ).alias("idx")
        )
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("r_name") == _WSR_REGION_A, cents_col
                    ).otherwise(0)
                )
                - F.sum(
                    F.when(
                        F.col("r_name") == _WSR_REGION_B, cents_col
                    ).otherwise(0)
                )
            ).alias("d")
        )
    )
    # Pin the nonzero month deltas once (O(months) rows): the
    # magnitude histogram and the rank join both re-reference them,
    # and unpinned each re-ran the 4-table join + groupBy (12 parquet
    # scans in the r10-before plan).
    nz = pin(
        m.filter(F.col("d") != 0).select(
            "idx", "d", F.abs("d").alias("ad")
        )
    )
    hist = nz.groupBy("ad").agg(F.count(F.lit(1)).alias("c"))
    # bounded-domain: ad is the |month-delta difference| magnitude
    # domain — derived from the calendar-month series, ~tens of rows
    wc = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "ad",
        "c",
        F.coalesce(F.sum("c").over(wc), F.lit(0)).alias("bef"),
    )
    ranked = nz.join(F.broadcast(cum), "ad").select(
        "idx", "d", (2 * F.col("bef") + F.col("c") + 1).alias("r2")
    )
    tie3 = hist.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("d") > 0, F.col("r2")).otherwise(0)
        ).alias("tplus2"),
    ).crossJoin(F.broadcast(tie3))
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("tplus2").cast("long").alias("t_plus_x2"),
        F.expr(_wsr_z_expr(dd_spark)).cast("double").alias("z"),
        (F.abs(F.expr(_wsr_z_expr(dd_spark))) > 1.96).alias("regions_differ"),
    )
