"""Round-5 gates, batch 99: Spearman rank correlation (q402 — the
tie-corrected rank correlation between a customer's account balance
and their realized spend: the monotone-association number q298's
Pearson matrix misses whenever the relationship is nonlinear) and
Wilson-interval anomaly flags (q403 — per-nation return rates
flagged only when the 95% Wilson LOWER bound clears the global
rate: the small-sample-honest version of a naive rate threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# Doubled average ranks stay integral under ties: for a value with c
# copies and s strictly-smaller rows, avg rank = s + (c+1)/2, so
# 2*avg = 2s + c + 1.  Moment sums of doubled ranks are integer and
# order-independent -> regrouping/exchange order cannot change them.
def _rank2(hist: DataFrame, val: str) -> DataFrame:
    pre = prefix_agg(hist, [(val, "asc")], {"s": ("sum", "c")})
    return pre.select(
        val,
        (2 * F.coalesce(F.col("s"), F.lit(0)) + F.col("c") + 1).alias("r2"),
    )


# ---------------------------------------------------------------- q402
@register(
    "q402_spearman_correlation",
    """
    WITH base AS (
        SELECT c.c_custkey,
               c.c_acctbal AS x,
               SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT)) AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    hx AS (SELECT x, COUNT(*) AS c FROM base GROUP BY x),
    hy AS (SELECT y, COUNT(*) AS c FROM base GROUP BY y),
    rx AS (SELECT x, 2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS r2
           FROM hx),
    ry AS (SELECT y, 2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS r2
           FROM hy),
    ranked AS (
        SELECT CAST(rx.r2 AS DECIMAL(38, 0)) AS u,
               CAST(ry.r2 AS DECIMAL(38, 0)) AS v
        FROM base JOIN rx ON base.x = rx.x JOIN ry ON base.y = ry.y
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38, 0)) AS n,
               SUM(u) AS su, SUM(v) AS sv,
               SUM(u * u) AS suu, SUM(v * v) AS svv,
               SUM(u * v) AS suv
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ROUND(1e6 * CAST(n * suv - su * sv AS DOUBLE)
                / sqrt(CAST(n * suu - su * su AS DOUBLE)
                       * CAST(n * svv - sv * sv AS DOUBLE)))
               AS BIGINT) AS spearman_micro
    FROM mom
    """,
    doc="Tie-corrected Spearman rank correlation between customer "
    "account balance and realized spend (monotone association — "
    "q298's Pearson matrix misses any nonlinear-but-monotone "
    "relationship; spend is cent-quantized per customer so the "
    "y values are engine-order-independent): doubled average "
    "ranks (2s+c+1, integral under ties) from distinct-value "
    "histograms with EXCLUSIVE prefix counts (blockrank — no "
    "unpartitioned window on the Spark side), Pearson on the "
    "doubled ranks with DECIMAL(38,0) moment sums (exact "
    "integers; cast before multiply), one double divide + sqrt "
    "at the end. Scale: histograms are |distinct| <= n rows; "
    "the rank join is two hash joins on value.",
)
def q402_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("y")
        )
        .select(F.col("c_acctbal").alias("x"), "y")
    )
    # Pin the per-customer (x, y) table once (O(customers) rows): the
    # two rank histograms and the rank join-back all re-reference it,
    # so the unpinned plan ran the customer-orders join three times
    # (18 Exchange nodes in the r10-before plan).
    base = pin(base)
    hx = base.groupBy("x").agg(F.count("*").alias("c"))
    hy = base.groupBy("y").agg(F.count("*").alias("c"))
    rx = _rank2(hx, "x")
    ry = _rank2(hy, "y")
    dec = "decimal(38,0)"
    ranked = (
        base.join(rx, "x")
        .join(ry.withColumnRenamed("r2", "r2y"), "y")
        .select(
            F.col("r2").cast(dec).alias("u"), F.col("r2y").cast(dec).alias("v")
        )
    )
    mom = ranked.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
    )
    n, su, sv = F.col("n"), F.col("su"), F.col("sv")
    num = (n * F.col("suv") - su * sv).cast("double")
    den = F.sqrt(
        (n * F.col("suu") - su * su).cast("double")
        * (n * F.col("svv") - sv * sv).cast("double")
    )
    return mom.select(
        n.cast("long").alias("n"),
        F.round(F.lit(1e6) * num / den).cast("long").alias("spearman_micro"),
    )


# ---------------------------------------------------------------- q403
@register(
    "q403_wilson_interval_flags",
    """
    WITH per_nation AS (
        SELECT n.n_name,
               COUNT(*) AS n_lines,
               SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ),
    gtot AS (
        SELECT CAST(ROUND(1e6 * SUM(r) / SUM(n_lines)) AS BIGINT)
            AS g_micro
        FROM per_nation
    ),
    wilson AS (
        SELECT n_name, n_lines, r,
               CAST(ROUND(1e6 * r / n_lines) AS BIGINT) AS rate_micro,
               CAST(ROUND(1e6 *
                   (((CAST(r AS DOUBLE) / n_lines)
                     + (196e-2 * 196e-2) / (2e0 * n_lines))
                    - 196e-2 * sqrt(
                        ((CAST(r AS DOUBLE) / n_lines)
                         * (1e0 - CAST(r AS DOUBLE) / n_lines)) / n_lines
                        + (196e-2 * 196e-2)
                          / (4e0 * n_lines * CAST(n_lines AS DOUBLE))))
                   / (1e0 + (196e-2 * 196e-2) / n_lines))
                   AS BIGINT) AS wilson_lo_micro
        FROM per_nation
    )
    SELECT w.n_name,
           CAST(w.n_lines AS BIGINT) AS n_lines,
           CAST(w.r AS BIGINT) AS n_returned,
           w.rate_micro, w.wilson_lo_micro,
           (SELECT g_micro FROM gtot) AS global_rate_micro,
           w.wilson_lo_micro > (SELECT g_micro FROM gtot) AS flagged
    FROM wilson w ORDER BY w.n_name
    """,
    doc="Per-nation return-rate anomaly flags via the 95% Wilson "
    "score LOWER bound (flag only when the bound — not the raw "
    "rate — clears the global rate: the small-sample-honest "
    "version of a naive threshold; a 3-line nation at 100% "
    "return rate stays unflagged, a 10k-line nation at a "
    "modestly elevated rate trips): three-table star join to "
    "nation, per-nation 2-cell counts, Wilson bound in straight "
    "IEEE double arithmetic (sqrt is correctly rounded, "
    "e-notation literals, identical parenthesization in both "
    "engines), micro-rounded BEFORE the integer flag compare so "
    "the boolean is engine-exact. Scale: star join with "
    "broadcast-able customer/nation dims; nation-domain output.",
)
def q403_wilson_interval_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "r"
            ),
        )
    )
    # Global rate as WINDOW sums over the ≤|nations|-row aggregate
    # (q294 shape): the old separate .agg() re-instantiated the whole
    # 4-table star join a second time just to add up 25 rows.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    glob_col = (
        F.round(
            F.lit(1e6) * F.sum("r").over(w_all) / F.sum("n_lines").over(w_all)
        )
        .cast("long")
        .alias("global_rate_micro")
    )
    nl = F.col("n_lines")
    p = F.col("r").cast("double") / nl
    z2 = F.lit(1.96) * F.lit(1.96)
    lo = (
        (p + z2 / (F.lit(2.0) * nl))
        - F.lit(1.96)
        * F.sqrt(
            (p * (F.lit(1.0) - p)) / nl
            + z2 / (F.lit(4.0) * nl * nl.cast("double"))
        )
    ) / (F.lit(1.0) + z2 / nl)
    return (
        per_nation.select(
            "n_name",
            nl.cast("long").alias("n_lines"),
            F.col("r").cast("long").alias("n_returned"),
            F.round(F.lit(1e6) * F.col("r") / nl)
            .cast("long")
            .alias("rate_micro"),
            F.round(F.lit(1e6) * lo).cast("long").alias("wilson_lo_micro"),
            glob_col,
        )
        .withColumn(
            "flagged", F.col("wilson_lo_micro") > F.col("global_rate_micro")
        )
        .orderBy("n_name")
    )
