"""Round-3 gates, batch 21: dynamic partition pruning (q224 — the
runtime scan-pruning lever that keeps a partitioned 100 TB fact from
being read wholesale when the restricting predicate lives on a
dimension) and dynamic partition OVERWRITE (q225 — the write-side
counterpart: restate one partition in place without touching, or even
listing-and-rewriting, the others). Together with q195 (static
partition pruning) and q193 (AQE re-planning) these close the
partition-lifecycle story: plan-time pruning, run-time pruning,
partial overwrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q224
_DPP_STAGED: dict[str, str] = {}


@register(
    "q224_dynamic_partition_pruning",
    """
    WITH mx AS (SELECT MAX(YEAR(l_shipdate)) AS y FROM lineitem)
    SELECT CAST((SELECT y FROM mx) AS INT) AS l_year,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS revenue,
           TRUE AS dpp_engaged
    FROM lineitem WHERE YEAR(l_shipdate) = (SELECT y FROM mx)
    """,
    doc="Dynamic partition pruning: the fact table is laid out "
    "partitioned by ship year; the only year restriction lives on a "
    "dimension attribute (flag == target), so NO static rule can "
    "prune the fact scan at plan time — at execution Spark broadcasts "
    "the filtered dimension keys INTO the fact's partition filter "
    "(`dynamicpruning#` subquery on the FileScan), reading one "
    "partition instead of all of them. At 100 TB this is the "
    "difference between scanning a day and scanning a decade "
    "whenever the cut is expressed through a dimension (the star- "
    "schema norm). The gate stages the partitioned layout fresh per "
    "run, executes a probe, ASSERTS the dynamicpruning expression in "
    "the executed plan, and returns the target year's revenue, which "
    "the oracle recomputes from the flat table.",
)
def q224_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _DPP_STAGED.get(sf_dir)
    if staged is None:
        # immutable once written -> cache per sf_dir (no in-place
        # rewrite for older plans to race against)
        staged = staging_dir("dpp_fact_")
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.select("l_extendedprice", F.year("l_shipdate").alias("l_year"))
            .write.mode("overwrite")
            .partitionBy("l_year")
            .parquet(staged)
        )
        _DPP_STAGED[sf_dir] = staged
    fact = spark.read.parquet(staged)
    # Dimension with an attribute the optimizer cannot statically map
    # to fact partitions: flag = y % 100, filtered to the target's flag.
    mx = fact.agg(F.max("l_year")).collect()[0][0]  # scalar bound, tiny
    dim = (
        fact.select(F.col("l_year").alias("y"))
        .distinct()
        .withColumn("flag", F.col("y") % 100)
        .filter(F.col("flag") == mx % 100)
    )
    joined = fact.join(F.broadcast(dim), fact["l_year"] == dim["y"])
    probe = joined.agg(F.count(F.lit(1)).alias("n"))
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    dpp = "dynamicpruning" in plan
    assert dpp, f"dynamic partition pruning did not engage: {plan[:400]}"
    return (
        joined.groupBy("l_year")
        .agg(F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("revenue"))
        .select("l_year", "revenue", F.lit(dpp).alias("dpp_engaged"))
    )


# ---------------------------------------------------------------- q225
@register(
    "q225_dynamic_partition_overwrite",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day, value FROM events
               WHERE user_id % 10 = 0),
         mx AS (SELECT MAX(day) AS m FROM d)
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           ROUND(SUM(CASE WHEN day = (SELECT m FROM mx)
                          THEN 2 * value ELSE value END), 3) AS total,
           TRUE AS untouched_preserved
    FROM d GROUP BY day
    ORDER BY day
    """,
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "a daily rollup is written partitioned by day; a restatement of "
    "ONLY the latest day (values doubled — a correction run) is then "
    "written with overwrite mode, and dynamic overwrite replaces "
    "exactly the partitions present in the incoming frame — the "
    "static default would TRUNCATE the whole table first. This is "
    "the backfill/restatement primitive at 100 TB: touch one day of "
    "a years-deep table with a one-day-sized write. The gate proves "
    "both halves: the read-back equals original-days + restated-day "
    "(oracle recomputes it flat), and `untouched_preserved` asserts "
    "an untouched partition's data FILES survived byte-listing- "
    "identical (same names — never rewritten, not merely equal).",
)
def q225_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("day").agg(F.sum("value").alias("total"))
    staged = staging_dir("dyn_overwrite_")
    daily.write.mode("overwrite").partitionBy("day").parquet(staged)

    mx = ev.agg(F.max("day")).collect()[0][0]  # scalar bound, tiny
    witness_dir = sorted(
        d for d in os.listdir(staged)
        if d.startswith("day=") and d != f"day={mx}"
    )[0]
    before = sorted(os.listdir(os.path.join(staged, witness_dir)))

    restated = (
        ev.filter(F.col("day") == F.lit(mx))
        .groupBy("day")
        .agg(F.sum(2 * F.col("value")).alias("total"))
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(staged)
    )
    after = sorted(os.listdir(os.path.join(staged, witness_dir)))
    preserved = before == after
    assert preserved, f"untouched partition rewritten: {before} -> {after}"
    return (
        spark.read.parquet(staged)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("total", 3).alias("total"),
            F.lit(preserved).alias("untouched_preserved"),
        )
        .orderBy("day")
    )
