"""Round-5 gates, batch 115: distributed top-k audit (q439 — the
per-bucket-topk-then-merge plan proven equal to the straight
global top-k: the algebraic identity every TakeOrdered /
reduce-side topk relies on, certified on real data with a total
order) and a mergeable-stats audit (q440 — count/sum/min/max
partial states computed on two data halves and MERGED, asserted
identical to the full recompute: the commutative-monoid contract
that makes incremental stats (q75/q88/q160) safe at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_K = 20
_BUCKETS = 8


# ---------------------------------------------------------------- q439
@register(
    "q439_distributed_topk_audit",
    f"""
    SELECT o_orderkey,
           CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
           TRUE AS plans_agree
    FROM orders
    ORDER BY ROUND(100 * o_totalprice) DESC, o_orderkey
    LIMIT {_K}
    """,
    doc="Distributed top-k audit: the two-phase plan (top-k within "
    f"each of {_BUCKETS} hash buckets, union, top-k of the "
    f"{_BUCKETS}x{_K} survivors) proven row-identical to the "
    "straight global TakeOrdered — the algebraic identity "
    "(selection over a total order commutes with partitioning) "
    "that EVERY reduce-side topk, q14's sort-topk and q365's "
    "TakeOrdered silently rely on, certified in-query on real "
    "data (q415's audit pattern). The order is total "
    "((cents, orderkey) desc) so ties cannot smuggle in "
    "nondeterminism; the oracle pins the top-k and the flag. "
    "Scale: phase one never moves more than buckets x k rows "
    "to the merge — THE pattern for top-k at 100 TB.",
)
def q439_distributed_topk_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    # straight global top-k (TakeOrdered)
    direct = base.orderBy(
        F.col("cents").desc(), F.col("o_orderkey")
    ).limit(_K)
    # two-phase: per-bucket top-k (partitioned window), merge, top-k
    w = Window.partitionBy("bkt").orderBy(
        F.col("cents").desc(), F.col("o_orderkey")
    )
    survivors = (
        base.withColumn("bkt", F.col("o_orderkey") % _BUCKETS)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _K)
        .drop("bkt", "rk")
    )
    two_phase = survivors.orderBy(
        F.col("cents").desc(), F.col("o_orderkey")
    ).limit(_K)
    a = [(r["o_orderkey"], r["cents"]) for r in direct.collect()]
    b = [(r["o_orderkey"], r["cents"]) for r in two_phase.collect()]
    agree = a == b
    return spark.createDataFrame(
        [(k, c, bool(agree)) for k, c in a],
        "o_orderkey long, cents long, plans_agree boolean",
    )


# ---------------------------------------------------------------- q440
@register(
    "q440_mergeable_stats_audit",
    """
    WITH full_stats AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS s,
               MIN(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS mn,
               MAX(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS mx,
               COUNT(DISTINCT o_custkey) AS d
        FROM orders
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS cents_sum,
           CAST(mn AS BIGINT) AS cents_min,
           CAST(mx AS BIGINT) AS cents_max,
           CAST(d AS BIGINT) AS distinct_custs,
           TRUE AS merge_matches_full
    FROM full_stats
    """,
    doc="Mergeable-statistics audit: count/sum/min/max/distinct "
    "partial states computed INDEPENDENTLY on the odd and even "
    "data halves, merged by the monoid ops (+, +, least, "
    "greatest, set-union via re-aggregated distinct), and "
    "asserted identical to the one-pass full recompute — the "
    "commutative-monoid contract that incremental maintenance "
    "(q75), ANALYZE stats (q88) and partial-HLL union (q160) "
    "all assume, certified in-query (q415's audit pattern; a "
    "non-mergeable statistic like a naive median would FAIL "
    "this audit, which is exactly why the repo's medians are "
    "histogram-based). The oracle pins the stats and the flag; "
    "Spark must prove the flag by running both plans. Scale: "
    "merge cost is O(states), not O(data) — the 100 TB "
    "incremental pattern.",
)
def q440_mergeable_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    # base feeds THREE separate actions (per-half partials, the
    # distinct merge, the full-table truth): pin the narrow projection
    # so orders is scanned once.
    base = pin(
        o.select(
            cents_col.alias("c"),
            "o_custkey",
            (F.col("o_orderkey") % 2).alias("half"),
        )
    )
    partials = (
        base.groupBy("half")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )
        .collect()
    )
    merged = {
        "n": sum(r["n"] for r in partials),
        "s": sum(r["s"] for r in partials),
        "mn": min(r["mn"] for r in partials),
        "mx": max(r["mx"] for r in partials),
    }
    # distinct merges as a set-union: re-aggregate the per-half
    # distinct key sets (the exact analogue of an HLL merge)
    merged_d = (
        base.select("half", "o_custkey")
        .distinct()
        .select("o_custkey")
        .distinct()
        .count()
    )
    full = base.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.count_distinct("o_custkey").alias("d"),
    ).collect()[0]
    agree = (
        merged["n"] == full["n"]
        and merged["s"] == full["s"]
        and merged["mn"] == full["mn"]
        and merged["mx"] == full["mx"]
        and merged_d == full["d"]
    )
    return spark.createDataFrame(
        [
            (
                full["n"],
                full["s"],
                full["mn"],
                full["mx"],
                full["d"],
                bool(agree),
            )
        ],
        "n long, cents_sum long, cents_min long, cents_max long,"
        " distinct_custs long, merge_matches_full boolean",
    )
