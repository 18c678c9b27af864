"""Round-3 gates, batch 23: AQE skew-join splitting asserted in-query
(q228 — the runtime escape hatch when one key holds half the shuffle)
and null-safe join semantics (q229 — `<=>` / IS NOT DISTINCT FROM,
where NULL keys MATCH instead of silently dropping). With q63/q155
(manual + auto salting) and q193 (AQE broadcast flip) this completes
the skew toolbox: salt when you must, let AQE split when you can.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q228
_SKEW_CONFS = {
    # Scale AQE's skew bars down to the gate fixture (cluster defaults
    # are 256 MB / 64 MB — the same mechanism at 1000x the bytes): the
    # hot partition must exceed the threshold AND factor x median, and
    # the split target (advisory) must be small enough that the hot
    # partition yields >= 2 map-chunk splits.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1024",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1024",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    # forbid the broadcast fallback so the skewed SMJ path is exercised
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # enough reduce partitions that the non-hot keys dilute across many
    # partitions — at very low partition counts every partition carries
    # a slice of the hot-adjacent mass and AQE declines to split
    "spark.sql.shuffle.partitions": "32",
}


@register(
    "q228_aqe_skew_join",
    """
    WITH l AS (
        SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                    ELSE l_orderkey % 1000 END AS k,
               l_extendedprice
        FROM lineitem
    ),
    d AS (SELECT s_suppkey % 1000 AS k FROM supplier)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           TRUE AS skew_split_applied
    FROM l JOIN d USING (k)
    """,
    doc="AQE skew-join splitting, asserted in-query: 70% of the fact "
    "lands on ONE join key (the planted hot partition), broadcast "
    "fallback is disabled, and the skew thresholds are scaled to the "
    "gate fixture so the hot partition crosses AQE's bar exactly as "
    "a 100x-median partition would at cluster scale. The executed "
    "plan must carry `skew=true` on the sort-merge join — AQE split "
    "the hot partition into multiple tasks joined against replicated "
    "right-side reads, the runtime fix for the straggler that makes "
    "a 1000-executor stage wait on one task. Values are plan- "
    "independent (each fact row matches AT MOST one distinct dim "
    "key), so the oracle pins them relationally; the boolean pins "
    "the mechanism. Confs are restored after the probe.",
)
def q228_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
            .otherwise(F.col("l_orderkey") % 1000)
            .alias("k"),
            "l_extendedprice",
        )
        # Skew splits are map-output-chunk granular: a partition fed by
        # ONE map task cannot be split, and the single-file local scan
        # is exactly one map. A 100 TB scan has thousands of map tasks;
        # this repartition stands in for that fan-in.
        .repartition(16)
    )
    # Plain projection, NO aggregate: s_suppkey % 1000 is already
    # unique at gate scales, and OptimizeSkewedJoin only pattern-
    # matches SMJ whose children are Sort-over-shuffle — an aggregate
    # between them (e.g. a distinct) silently disqualifies the join
    # from skew splitting.
    dim = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 1000).alias("k")
    )
    joined = li.join(dim, "k")
    prev = {c: spark.conf.get(c, None) for c in _SKEW_CONFS}
    try:
        for c, v in _SKEW_CONFS.items():
            spark.conf.set(c, v)
        probe = joined.agg(F.count(F.lit(1)).alias("n"))
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        skewed = "skew=true" in plan
        assert skewed, f"AQE skew split did not engage: {plan[:400]}"
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("total"),
    ).select("n", "total", F.lit(skewed).alias("skew_split_applied"))


# ---------------------------------------------------------------- q229
@register(
    "q229_null_safe_join",
    """
    WITH l AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 100 END AS k,
               COUNT(*) AS nl
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
    ),
    r AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderkey % 100 END AS k,
               COUNT(*) AS nr
        FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1
    )
    SELECT l.k AS k, CAST(l.nl AS BIGINT) AS nl, CAST(r.nr AS BIGINT) AS nr
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    ORDER BY k NULLS FIRST
    """,
    doc="Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): both "
    "sides carry a NULL key bucket (every 7th order key nulled — the "
    "unknown-dimension rows of a real warehouse), and the null-safe "
    "comparison makes the NULL buckets MATCH each other, where a "
    "plain equi-join silently drops them (NULL = NULL is NULL under "
    "three-valued logic — the classic missing-rows bug). Spark plans "
    "`eqNullSafe` as a hash join on a null-safe key wrapper, NOT a "
    "nested loop, so it shuffles and scales exactly like a normal "
    "equi-join; both sides pre-aggregate per key so the NULL bucket "
    "meets as 1x1 row, never a pair explosion. Complements q179 "
    "(NOT IN three-valued logic).",
)
def q229_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    key = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderkey") % 100
    )
    left = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    right = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nr"))
    )
    return (
        left.join(right, left["k"].eqNullSafe(right["k"]))
        .select(left["k"].alias("k"), "nl", "nr")
        .orderBy(F.col("k").asc_nulls_first())
    )
