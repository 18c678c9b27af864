"""Round-5 gates, batch 158: rolling correlation (q527 — the
co-movement monitor: trailing-12-month Pearson correlation between
two regions' monthly revenues, from exact integer sufficient
statistics accumulated per window through the bounded-kernel
expansion (each month contributes to its <=12 target windows — the
q479 device), so the whole rolling series costs one re-aggregation
and no ordered scan) and monetary-unit sampling (q528 — the audit
profession's sampling design: sample probability proportional to
VALUE, implemented as systematic selection along the cumulative
cents axis, so a $1M order is ~100x likelier to be examined than a
$10k one; selection is an exclusive-prefix-sum interval-straddle
test — deterministic, distributed, and the expected sample size is
provable from the totals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

_RC_WINDOW = 12
_RC_REGION_A = "AMERICA"
_RC_REGION_B = "EUROPE"

# Pearson r from exact integer window sufficient stats, micro-
# quantized through shared expression text.
def _rc_r_expr(dd) -> str:
    return (
        f"CAST(ROUND((CAST(k AS DOUBLE) * {dd('sab')} - CAST(sa AS DOUBLE) * sb)"
        f" / SQRT((CAST(k AS DOUBLE) * {dd('qa')} - CAST(sa AS DOUBLE) * sa)"
        f"        * (CAST(k AS DOUBLE) * {dd('qb')} - CAST(sb AS DOUBLE) * sb))"
        " * 1000000) AS BIGINT)"
    )


@register(
    "q527_rolling_correlation",
    f"""
    WITH m AS (
        SELECT (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1)
                   AS idx,
               SUM(CASE WHEN r.r_name = '{_RC_REGION_A}'
                   THEN CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                   ELSE 0 END) AS a,
               SUM(CASE WHEN r.r_name = '{_RC_REGION_B}'
                   THEN CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                   ELSE 0 END) AS b
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name IN ('{_RC_REGION_A}', '{_RC_REGION_B}')
        GROUP BY 1
    ),
    contrib AS (
        SELECT m.idx + o.off AS tgt, m.a, m.b
        FROM m CROSS JOIN
             (SELECT UNNEST(RANGE(0, {_RC_WINDOW})) AS off) o
    ),
    win AS (
        SELECT tgt AS idx, COUNT(*) AS k,
               SUM(a) AS sa, SUM(b) AS sb,
               SUM(CAST(a AS HUGEINT) * a) AS qa,
               SUM(CAST(b AS HUGEINT) * b) AS qb,
               SUM(CAST(a AS HUGEINT) * b) AS sab
        FROM contrib GROUP BY tgt
    ),
    full_w AS (
        SELECT * FROM win
        WHERE k = {_RC_WINDOW}
          AND idx IN (SELECT idx FROM m)
    )
    SELECT CAST(idx AS BIGINT) AS month_idx,
           CAST(k AS BIGINT) AS window_months,
           {_rc_r_expr(dd_duck)} AS corr_micro,
           ABS({_rc_r_expr(dd_duck)}) > 700000 AS strongly_coupled
    FROM full_w ORDER BY month_idx
    """,
    doc="Rolling correlation (trailing-12-month Pearson between two "
    "regions' monthly revenues — the co-movement monitor behind "
    "hedging / shared-seasonality calls): the monthly two-region "
    "series comes from one conditional aggregate; every window's "
    "five sufficient statistics (sums, squares, cross product in "
    "exact HUGEINT/DECIMAL(38)) accumulate through the bounded-"
    "kernel expansion — each month feeds its <=12 target windows, "
    "one re-aggregation, no ordered scan, no state; Pearson r "
    "micro-quantized through shared expression text; partial "
    "leading windows excluded. Scale: the only full-data pass is "
    "the monthly groupBy.",
)
def q527_rolling_correlation(
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
        .filter(F.col("r_name").isin(_RC_REGION_A, _RC_REGION_B))
        .groupBy(
            (
                F.year("o_orderdate") * 12
                + F.month("o_orderdate")
                - 1
            ).alias("idx")
        )
        .agg(
            F.sum(
                F.when(F.col("r_name") == _RC_REGION_A, cents_col)
                .otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("r_name") == _RC_REGION_B, cents_col)
                .otherwise(0)
            ).alias("b"),
        )
    )
    # O(months) rows, referenced twice (offset fan-out + the full-
    # window semi-join): pin it so the orders star join runs ONCE.
    m = pin(m)
    off = spark.range(0, _RC_WINDOW).select(
        F.col("id").cast("int").alias("off")
    )
    contrib = m.crossJoin(F.broadcast(off)).select(
        (F.col("idx") + F.col("off")).alias("tgt"), "a", "b"
    )
    win = contrib.groupBy(F.col("tgt").alias("idx")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("a")).alias(
            "qa"
        ),
        F.sum(F.col("b").cast("decimal(38,0)") * F.col("b")).alias(
            "qb"
        ),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias(
            "sab"
        ),
    )
    full_w = win.filter(F.col("k") == _RC_WINDOW).join(
        m.select("idx"), "idx", "left_semi"
    )
    return full_w.select(
        F.col("idx").cast("long").alias("month_idx"),
        F.col("k").cast("long").alias("window_months"),
        F.expr(_rc_r_expr(dd_spark)).alias("corr_micro"),
        (F.abs(F.expr(_rc_r_expr(dd_spark))) > 700000).alias(
            "strongly_coupled"
        ),
    ).orderBy("month_idx")


# ---------------------------------------------------------------- q528
_MUS_N_TARGET = 200  # target sample size


@register(
    "q528_monetary_unit_sampling",
    f"""
    WITH x AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    tot AS (SELECT SUM(cents) AS t FROM x),
    itv AS (
        SELECT t, t // {_MUS_N_TARGET} AS interval FROM tot
    ),
    cum AS (
        SELECT o_orderkey, o_orderpriority, cents,
               SUM(cents) OVER (ORDER BY o_orderkey) - cents AS bef
        FROM x
    ),
    hits AS (
        SELECT c.o_orderpriority, c.cents,
               (c.bef + c.cents) // i.interval - c.bef // i.interval
                   AS n_hits
        FROM cum c CROSS JOIN itv i
    )
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN n_hits > 0 THEN cents ELSE 0 END)
               AS BIGINT) AS sampled_cents,
           CAST(SUM(n_hits) AS BIGINT) AS n_sampling_points,
           CAST(MAX(CASE WHEN n_hits > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS has_multi_hit
    FROM hits GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Monetary-unit sampling (the audit profession's design: "
    "inclusion probability proportional to VALUE via systematic "
    "selection along the cumulative cents axis — a $1M order is "
    "~100x likelier to be examined than a $10k one, and every "
    "interval of total value yields exactly one sampling point): "
    "the cumulative position is an exclusive prefix sum over the "
    "deterministic order-key axis (block-offset machinery, no "
    "unpartitioned window Spark-side), and an order is selected "
    "iff its [bef, bef+cents) span straddles a multiple of the "
    "sampling interval — integer floor-division arithmetic, no "
    "randomness, reproducible end to end; items larger than the "
    "interval get multiple sampling points (reported — the MUS "
    "'top stratum'). Scale: one prefix pass + one aggregate; "
    "selection is a per-row expression.",
)
def q528_monetary_unit_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Narrow 3-column base read by BOTH the grand total and the
    # prefix-sum machinery: pin it so orders is scanned once (the
    # prefix_agg would otherwise pin its own copy AND tot would
    # re-scan the parquet).
    x = pin(
        o.select(
            "o_orderkey",
            "o_orderpriority",
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    tot = x.agg(F.sum("cents").alias("t"))
    itv = tot.select(
        F.expr(f"t DIV {_MUS_N_TARGET}").cast("long").alias("interval")
    )
    cum = prefix_agg(
        x,
        [("o_orderkey", "asc")],
        {"bef": ("sum", "cents")},
    )
    hits = cum.crossJoin(F.broadcast(itv)).select(
        "o_orderpriority",
        "cents",
        F.expr(
            "(bef + cents) DIV interval - bef DIV interval"
        ).alias("n_hits"),
    )
    return (
        hits.groupBy("o_orderpriority")
        .agg(
            F.sum((F.col("n_hits") > 0).cast("long"))
            .cast("long")
            .alias("n_sampled"),
            F.sum(
                F.when(F.col("n_hits") > 0, F.col("cents")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("sampled_cents"),
            F.sum("n_hits").cast("long").alias("n_sampling_points"),
            F.max((F.col("n_hits") > 1).cast("long"))
            .cast("long")
            .alias("has_multi_hit"),
        )
        .orderBy("o_orderpriority")
    )
