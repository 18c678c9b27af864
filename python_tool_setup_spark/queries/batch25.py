"""Round-3 gates, batch 25: alternative API surfaces — pandas-on-Spark
(q234: the drop-in pandas dialect compiling to the same Catalyst
plans), join strategy hints (q235: BROADCAST/MERGE/SHUFFLE_HASH each
asserted to yield its physical operator), and the Spark 4 Python
STREAMING data sink (q236: DataSourceStreamWriter with per-epoch
two-phase manifest commit, completing the custom-DataSource quartet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q234
@register(
    "q234_pandas_api",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- integer-cent AVG + scale-first round (q212/q208
           -- recipes): a money AVG is a rational that can tie on a
           -- .005 boundary and its double SUM is order-dependent
           ROUND(AVG(CAST(ROUND(100 * o_totalprice) AS BIGINT)))
               / 100.0 AS avg_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="pandas-on-Spark API (`pyspark.pandas`): the same aggregation "
    "written in pandas dialect — groupby().agg() with named columns, "
    "reset_index, sort_values — compiles to the identical Catalyst "
    "hash-aggregate plan as the DataFrame verbs (NOT driver-side "
    "pandas: the data never leaves the executors, and "
    "`distributed-sequence` indexing avoids the single-partition "
    "default-index trap). `.to_spark()` hands the result back to the "
    "relational surface. This is the migration surface for "
    "pandas-fluent users at 100 TB; the oracle pins that the dialect "
    "changes syntax, not semantics.",
)
def q234_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed-sequence")
    try:
        pdf = load_table(spark, sf_dir, "orders").pandas_api()
        # cents in pandas dialect too: (100 * s).round(0).astype
        # compiles to the same ROUND + CAST the oracle states
        pdf = pdf.assign(
            cents=(100 * pdf.o_totalprice).round(0).astype("int64")
        )
        agg = (
            pdf.groupby("o_orderpriority")
            .agg(
                n=("o_orderkey", "count"),
                avg_cents=("cents", "mean"),
                max_price=("o_totalprice", "max"),
            )
            .reset_index()
            .sort_values("o_orderpriority")
        )
        out = agg.to_spark()
    finally:
        ps.set_option("compute.default_index_type", prev)
    return out.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        (F.round("avg_cents") / 100.0).alias("avg_price"),
        F.round("max_price", 2).alias("max_price"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------- q235
@register(
    "q235_join_strategy_hints",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           TRUE AS all_hints_honored
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Join strategy hints: the SAME join executed three times under "
    "BROADCAST, MERGE, and SHUFFLE_HASH hints, each probe asserting "
    "the corresponding physical operator (BroadcastHashJoin / "
    "SortMergeJoin / ShuffledHashJoin) in the executed plan — the "
    "manual override lane for when statistics mislead the planner "
    "(a freshly-written table with no stats, a filter the optimizer "
    "can't estimate). At 100 TB forcing SHUFFLE_HASH over SMJ skips "
    "two O(n log n) sorts when one side fits per-partition memory, "
    "and a mis-applied BROADCAST hint is refused only above the "
    "driver limits — hints are requests the planner honors when "
    "legal, which is exactly what the three asserts pin. Values come "
    "from the unhinted plan; the boolean pins all three mechanisms.",
)
def q235_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    checks = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, operator in checks.items():
        probe = li.join(o.hint(hint), li["l_orderkey"] == o["o_orderkey"]).agg(
            F.count(F.lit(1)).alias("n")
        )
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert operator in plan, f"hint {hint!r} not honored: {plan[:300]}"
    # reaching here means every assert above held
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("total"),
        )
        .select(
            "o_orderpriority", "n", "total",
            F.lit(True).alias("all_hints_honored"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- q236
@register(
    "q236_python_stream_sink",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE user_id % 25 = 0
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Python STREAMING data sink (Spark 4 DataSourceStreamWriter — "
    "completes the custom-DataSource quartet with q101 batch read, "
    "q103 stream read, q106 batch write): a bounded event stream "
    "drains through writeStream.format('jsonl_dir') — per micro-batch "
    "each task stages a uniquely-named JSONL file and the driver "
    "publishes a per-batch manifest (two-phase commit at epoch "
    "granularity; retried tasks leave only orphans outside the "
    "manifest, never duplicates inside it). The gate then reads the "
    "manifest-listed spool back and aggregates — equal to the batch "
    "oracle, proving the sink lost and duplicated nothing.",
)
def q236_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import json as _json
    import os
    import uuid

    from python_tool_setup_spark.queries.streaming import _events_stream
    from python_tool_setup_spark.sources.custom import register_jsonl_dir
    from python_tool_setup_spark.staging import staging_dir

    register_jsonl_dir(spark)
    stream, _ = _events_stream(spark, sf_dir)
    spool = staging_dir("pysink_spool_")
    ckpt = staging_dir("pysink_ckpt_")
    q = (
        stream.filter(F.col("user_id") % 25 == 0)
        .select("event_type", "value")
        .writeStream.format("jsonl_dir")
        .option("path", spool)
        .option("checkpointLocation", ckpt)
        .queryName(f"pysink_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = set()
    for mf in _glob.glob(os.path.join(spool, "_MANIFEST-*.json")):
        with open(mf) as fh:
            committed.update(_json.load(fh).keys())
    files = [os.path.join(spool, f) for f in sorted(committed)]
    assert files, "stream sink committed no files"
    back = spark.read.schema("event_type string, value double").json(files)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )
