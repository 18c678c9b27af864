"""Round-5 gates, batch 101: hierarchical revenue shares (q406 —
ratio-to-parent at every level of the region > nation rollup: the
"% of parent" column a drill-down dashboard puts next to every
node, which q09's rollup totals and q395's top-share number both
stop short of) and an approx-percentile accuracy audit (q407 —
Spark's percentile_approx checked against its Greenwald-Khanna
rank-error contract using EXACT order statistics: the
sketch-accuracy audit pattern of q382/q383/q384 applied to the
quantile sketch every 100 TB pipeline actually uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_ACC = 1000  # percentile_approx accuracy -> rank error <= n/_ACC


# ---------------------------------------------------------------- q406
@register(
    "q406_hierarchical_shares",
    """
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               SUM(CAST(ROUND(100 * l.l_extendedprice * (1 - l.l_discount))
                   AS BIGINT)) AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name
    ),
    reg AS (SELECT r_name, SUM(cents) AS r_cents FROM rev GROUP BY r_name),
    tot AS (SELECT SUM(cents) AS g_cents FROM rev)
    SELECT rev.r_name, rev.n_name,
           -- SUM(BIGINT) is HUGEINT in DuckDB; pandas-fetch coerces
           -- HUGEINT to float64 while Spark's BIGINT stays int64 —
           -- the driver-hash divergence class. Re-land on BIGINT.
           CAST(rev.cents AS BIGINT) AS cents,
           CAST(ROUND(1e6 * rev.cents / reg.r_cents) AS BIGINT)
               AS share_of_region_micro,
           CAST(ROUND(1e6 * rev.cents / (SELECT g_cents FROM tot))
               AS BIGINT) AS share_of_global_micro,
           CAST(ROUND(1e6 * reg.r_cents / (SELECT g_cents FROM tot))
               AS BIGINT) AS region_share_micro
    FROM rev JOIN reg ON reg.r_name = rev.r_name
    ORDER BY rev.r_name, rev.n_name
    """,
    doc="Hierarchical ratio-to-parent revenue shares over the "
    "region > nation rollup (every node tagged with its share of "
    "its PARENT and of the GLOBAL total — the '% of parent' "
    "drill-down column; q09's rollup emits the totals, q395 the "
    "global top-share, neither the per-node ratios): star join "
    "with broadcast dims, cent-quantized revenue (exact integer "
    "sums), then nation-domain metadata re-aggregated to region "
    "and global — shares are integer-ratio micros, no window at "
    "all. Scale: one shuffled star-join aggregate; everything "
    "after is |nations| rows.",
)
def q406_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
            ).alias("cents")
        )
    )
    # Region and global totals as window sums over the ≤|nations|-row
    # rev table (the q294 single-tree shape): the old reg/tot/join
    # fan-out re-ran the lineitem-orders join three times (15 parquet
    # scans in the r10-before plan). Integer sums — identical values.
    return (
        rev.select(
            "r_name",
            "n_name",
            "cents",
            F.sum("cents")
            .over(Window.partitionBy("r_name"))
            .alias("r_cents"),
            # bounded-domain: rev table: one row per nation
            F.sum("cents")
            .over(Window.partitionBy(F.lit(1)))
            .alias("g_cents"),
        )
        .select(
            "r_name",
            "n_name",
            "cents",
            F.round(F.lit(1e6) * F.col("cents") / F.col("r_cents"))
            .cast("long")
            .alias("share_of_region_micro"),
            F.round(F.lit(1e6) * F.col("cents") / F.col("g_cents"))
            .cast("long")
            .alias("share_of_global_micro"),
            F.round(F.lit(1e6) * F.col("r_cents") / F.col("g_cents"))
            .cast("long")
            .alias("region_share_micro"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------- q407
@register(
    "q407_approx_percentile_audit",
    """
    WITH vals AS (SELECT l_extendedprice AS v FROM lineitem),
    stats AS (
        SELECT COUNT(*) AS n,
               CAST(ROUND(quantile_cont(v, 5e-1), 4) AS DOUBLE)
                   AS exact_p50
        FROM vals
    )
    SELECT CAST(n AS BIGINT) AS n,
           exact_p50,
           CAST(n // 1000 + 1 AS BIGINT) AS rank_tolerance,
           TRUE AS within_bound
    FROM stats
    """,
    doc="Accuracy audit of Spark's percentile_approx against its "
    "Greenwald-Khanna contract (rank error <= n/accuracy): the "
    "sketch is run at accuracy=1000, then the EXACT rank window "
    "of the returned value (count-below / count-at-or-below, "
    "computed by filter-counts — no global sort) is checked to "
    "overlap [n/2 - n/1000, n/2 + n/1000]. The sketch VALUE "
    "itself is partition-order dependent so it is NOT in the "
    "output; the audit emits n, the exact interpolated median "
    "(q47's histogram order-statistics operator, quantile_cont "
    "semantics, ROUND(4)), the tolerance, and the bound verdict "
    "— which GK guarantees TRUE, and the oracle asserts as a "
    "literal (q382/q383/q384's audit pattern). Scale: the "
    "sketch is one treeAggregate; the rank check is two "
    "filter-counts.",
)
def q407_approx_percentile_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from python_tool_setup_spark.operators.blockrank import pin
    from python_tool_setup_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # Single value column read by the sketch, the rank check and the
    # exact histogram: pin it so lineitem is scanned once.
    vals = pin(li.select(F.col("l_extendedprice").alias("v")))
    approx = vals.agg(
        F.percentile_approx("v", 0.5, _ACC).alias("ap"),
        F.count("*").alias("n"),
    ).collect()[0]
    ap, n = float(approx["ap"]), int(approx["n"])
    rank_win = vals.agg(
        F.sum(F.when(F.col("v") < ap, 1).otherwise(0)).alias("below"),
        F.sum(F.when(F.col("v") <= ap, 1).otherwise(0)).alias("at_or_below"),
    ).collect()[0]
    tol = n // _ACC + 1
    target = n / 2
    within = (
        rank_win["below"] <= target + tol
        and rank_win["at_or_below"] >= target - tol
    )
    exact = grouped_exact_percentiles(vals, [], "v", {"p50": 0.5})
    return exact.select(
        F.col("n").cast("long").alias("n"),
        F.round("p50", 4).cast("double").alias("exact_p50"),
        F.lit(tol).cast("long").alias("rank_tolerance"),
        F.lit(bool(within)).alias("within_bound"),
    )
