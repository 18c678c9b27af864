"""Round-3 gates, batch 10: NTILE equal-frequency bucketing (q176),
streaming UPDATE output mode (q177), dual-sink foreachBatch fan-out
(q178), NOT IN three-valued-logic semantics (q179), exact DECIMAL
aggregation (q180), TPC-H Q3/Q10-shaped analytics (q181/q182), and
audio PCM binary decode plumbing (q183).

Oracle conventions as everywhere: identical aliases both sides,
integer aggregates cast to BIGINT, doubles ROUNDed identically,
decimals compared at their declared scale.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q176
@register(
    "q176_ntile_bucketing",
    """
    WITH deciles AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM deciles GROUP BY decile
    """,
    doc="NTILE equal-frequency bucketing (the feature-binning / "
    "equal-depth-histogram primitive: deciles of order value with "
    "per-bucket bounds). Deterministic under the (price, key) "
    "tie-break. The Spark plan opens NO global window: ranks come "
    "from the distributed block-offset rank (operators/"
    "blockrank.py) and the bucket is NTILE's exact closed form — "
    "the first n%b buckets take div(n,b)+1 rows, the rest "
    "div(n,b) — so the plan survives a table no single task could "
    "sort. The DuckDB oracle uses plain NTILE; agreeing with it "
    "proves the closed form IS ntile.",
)
def q176_ntile_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Narrow 2-column base read by BOTH the rank machinery and the
    # total count: pin it so orders is scanned once.
    base = pin(o.select("o_totalprice", "o_orderkey"))
    ranked = prefix_rank(
        base,
        [("o_totalprice", "asc"), ("o_orderkey", "asc")],
        alias="rk",
    )
    n_tot = base.agg(F.count(F.lit(1)).alias("n"))
    deciled = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "decile",
        F.expr(
            "CASE WHEN rk <= (n % 10) * (div(n, 10) + 1) "
            "THEN div(rk - 1, div(n, 10) + 1) + 1 "
            "ELSE (n % 10) + div(rk - (n % 10) * (div(n, 10) + 1) - 1, "
            "div(n, 10)) + 1 END"
        ),
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# ---------------------------------------------------------------- q177
@register(
    "q177_stream_update_mode",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value,
           TRUE AS updates_exceed_finals
    FROM events
    GROUP BY event_type
    """,
    doc="UPDATE output mode (the third output-mode surface after "
    "q27's complete and q26/q53's append): the 4-file event replay is "
    "drained with maxFilesPerTrigger=1 and each micro-batch emits "
    "ONLY the changed aggregate rows, stamped with their batch id "
    "into an append sink; the final state is reassembled as the "
    "last update per key — the changelog-consumption pattern for "
    "feeding incremental aggregates into a keyed store. The gate "
    "also proves genuine multi-batch updating: strictly more update "
    "rows arrive than final keys exist (each batch re-emits the keys "
    "it touched).",
)
def q177_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.queries.batch6 import _chunked_events_dir

    ev = load_table(spark, sf_dir, "events")
    src = _chunked_events_dir(spark, sf_dir)
    out = staging_dir("upd_out_") + "/t"
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", staging_dir("ckpt_upd_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    updates = spark.read.parquet(out)
    w = Window.partitionBy("event_type").orderBy(F.col("batch_id").desc())
    final = (
        updates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", "n", "total_value")
    )
    n_updates = updates.agg(F.count(F.lit(1)).alias("nu"))
    n_finals = final.agg(F.count(F.lit(1)).alias("nf"))
    flag = n_updates.crossJoin(n_finals).select(
        (F.col("nu") > F.col("nf")).alias("updates_exceed_finals")
    )
    return final.crossJoin(F.broadcast(flag))


# ---------------------------------------------------------------- q178
@register(
    "q178_foreachbatch_dual_sink",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value,
           TRUE AS sinks_consistent
    FROM events
    GROUP BY event_type
    """,
    doc="Dual-sink foreachBatch fan-out: ONE bounded drain writes each "
    "micro-batch to a detail sink (append parquet) AND upserts a "
    "keyed summary sink (merge of per-batch partial aggregates) in "
    "the same transaction scope — the 'raw + rollup from one pass' "
    "topology every ingestion pipeline needs, without scanning the "
    "source twice. The gate recomputes the aggregate from the detail "
    "sink and proves it equals the incrementally-maintained summary "
    "sink exactly; the oracle pins the batch answer.",
)
def q178_foreachbatch_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.queries.batch6 import _chunked_events_dir

    ev = load_table(spark, sf_dir, "events")
    src = _chunked_events_dir(spark, sf_dir)
    detail = staging_dir("dual_detail_") + "/t"
    # Versioned summary snapshots, one dir per batch, never overwritten
    # in place: overwriting a path the previous batch's plan still
    # references is a delete-then-reanalyze race (query-end listeners
    # re-resolving the old plan log PATH_NOT_FOUND). An atomic-swap /
    # MVCC layout is also what a real summary table does (see
    # ingestion/versioned.py).
    summary_root = staging_dir("dual_summary_")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def summary_path(version: int) -> str:
        return f"{summary_root}/v={version}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df.persist()
        batch_df.select("event_id", "event_type", "value").write.mode(
            "append"
        ).parquet(detail)
        part = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        if batch_id > 0 and os.path.isdir(summary_path(batch_id - 1)):
            prev = sp.read.parquet(summary_path(batch_id - 1))
            merged = (
                prev.unionByName(part)
                .groupBy("event_type")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        else:
            merged = part
        # overwrite mode keeps a RETRIED batch idempotent: it rewrites
        # its own version dir, never a predecessor's
        merged.write.mode("overwrite").parquet(summary_path(batch_id))
        batch_df.unpersist()

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", staging_dir("ckpt_dual_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    from_detail = (
        spark.read.parquet(detail)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_d"),
            F.round(F.sum("value"), 2).alias("tv_d"),
        )
    )
    latest = max(
        int(d.split("=")[1])
        for d in os.listdir(summary_root)
        if d.startswith("v=")
    )
    from_summary = spark.read.parquet(summary_path(latest)).select(
        "event_type",
        "n",
        F.round("sum_value", 2).alias("total_value"),
    )
    return (
        from_summary.join(from_detail, "event_type")
        .select(
            "event_type",
            "n",
            "total_value",
            (
                (F.col("n") == F.col("n_d"))
                # the two totals are float64 sums in different orders
                # (incremental pairwise vs one-pass); compare at the
                # rounding granularity, not exact equality, or a .005
                # boundary flips the flag at a new sf/partitioning
                & (F.abs(F.col("total_value") - F.col("tv_d")) <= 0.011)
            ).alias("sinks_consistent"),
        )
    )


# ---------------------------------------------------------------- q179
_NOTIN_SQL = """
    WITH probe AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderkey < 100
        UNION ALL SELECT NULL
    )
    SELECT
        CAST((SELECT COUNT(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
            AS not_in_nullable,
        CAST((SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = c.c_custkey)) AS BIGINT)
            AS not_exists,
        CAST((SELECT COUNT(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM probe
                                      WHERE k IS NOT NULL)) AS BIGINT)
            AS not_in_filtered
"""


@register(
    "q179_notin_null_semantics",
    _NOTIN_SQL,
    doc="Three-valued-logic contract: NOT IN against a list containing "
    "NULL is never TRUE (x <> NULL is UNKNOWN), so the nullable NOT IN "
    "count is 0 while NOT EXISTS — which ignores the NULL probe row — "
    "returns the real anti-join count, equal to NOT IN over the "
    "null-filtered list. The IDENTICAL SQL runs on both engines; any "
    "divergence in null-aware anti-join planning (Spark rewrites "
    "NOT IN to a null-aware anti join) breaks the hash. This is the "
    "classic silent-wrong-answer trap in migrated pipelines, pinned.",
)
def q179_notin_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.tables import register_all

    register_all(spark, sf_dir)
    return spark.sql(_NOTIN_SQL)


# ---------------------------------------------------------------- q180
@register(
    "q180_decimal_exact_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
               AS exact_sum,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                - FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))))
                AS VARCHAR) AS cents_frac
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact DECIMAL aggregation: money columns cast to "
    "DECIMAL(18,2) and summed with NO floating-point error — the sum "
    "is bit-exact and order-independent, unlike the double sums "
    "elsewhere that both engines must ROUND identically. Emitted as "
    "strings at declared scale so the hash compares exact decimal "
    "representations. This is the correctness story for financial "
    "columns at 100 TB, where a double sum's error grows with row "
    "count but decimal partial aggregation stays exact under any "
    "partitioning.",
)
def q180_decimal_exact_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    price_sum = F.sum(dec("l_extendedprice"))
    # FLOOR on both sides — decimal->bigint CAST truncates in Spark
    # but rounds half-even in DuckDB, an engine divergence this gate
    # exists to keep out of money math
    return li.groupBy("l_returnflag").agg(
        price_sum.cast("string").alias("exact_sum"),
        (price_sum - F.floor(price_sum).cast("decimal(38,2)"))
        .cast("string")
        .alias("cents_frac"),
    )


# ---------------------------------------------------------------- q181
@register(
    "q181_shipping_priority",
    """
    SELECT l_orderkey,
           -- cent-quantized per row: order-free exact sum (the q212
           -- recipe) — also keeps the revenue-ranked LIMIT stable
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
               * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = (SELECT MIN(c_mktsegment) FROM customer)
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority) shape: unshipped high-revenue "
    "orders for one market segment — a selective dimension filter "
    "broadcast into a 3-table star join, revenue aggregation keyed on "
    "the order, global top-10 via TakeOrderedAndProject. Both date "
    "filters reach the parquet scans as pushed predicates; the "
    "segment is derived in-query (MIN over segments) so the gate "
    "never hardcodes fixture vocabulary.",
)
def q181_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seg = c.agg(F.min("c_mktsegment").alias("seg"))
    cut = F.lit("1998-01-01").cast("timestamp")
    cust = (
        c.join(F.broadcast(seg), c["c_mktsegment"] == F.col("seg"))
        .select("c_custkey")
    )
    return (
        li.filter(F.col("l_shipdate") > cut)
        .join(
            o.filter(F.col("o_orderdate") < cut),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # cent-quantized per row - order-free exact sum
            F.round(
                F.sum(
                    cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
                ).cast("double")
                / 100,
                2,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------- q182
@register(
    "q182_returned_item_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           -- cent-quantized per row: order-free exact sum (the q212
           -- recipe) - also keeps the revenue-ranked LIMIT stable
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
               * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS revenue,
           ROUND(MAX(c_acctbal), 2) AS acctbal
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item reporting) shape: customers ranked "
    "by revenue lost to returned items — fact filter pushed to the "
    "lineitem scan, orders joined on the shuffle key, customer and "
    "nation dims broadcast, top-20 via TakeOrderedAndProject. The "
    "canonical 'who is hurting us' operational query over the star "
    "schema.",
)
def q182_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            # cent-quantized per row - order-free exact sum
            F.round(
                F.sum(
                    cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
                ).cast("double")
                / 100,
                2,
            ).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------- q183
_PCM_SAMPLES = 2000
_PCM_FRAME = 500


@register(
    "q183_audio_pcm_frames",
    f"""
    WITH frames AS (
        SELECT doc_id, f.frame FROM documents,
               (SELECT unnest(generate_series(0,
                    {_PCM_SAMPLES // _PCM_FRAME - 1})) AS frame) f
        WHERE doc_id < 100
    )
    SELECT doc_id, CAST(frame AS INT) AS frame,
           ROUND(sqrt(list_sum(list_transform(
               generate_series(frame * {_PCM_FRAME},
                               (frame + 1) * {_PCM_FRAME} - 1),
               i -> CAST(((doc_id * 31 + i * 73) % 997 - 498)
                         * ((doc_id * 31 + i * 73) % 997 - 498)
                    AS DOUBLE))) / {_PCM_FRAME}), 4) AS rms
    FROM frames
    """,
    doc="Audio decode plumbing (L5, audio modality): each document "
    "carries an opaque int16 little-endian PCM BINARY column "
    "(deterministically synthesized — no audio codec exists in this "
    "container, per the multimodal stubbing contract), which a "
    "mapInPandas stage decodes with numpy frombuffer and reduces to "
    f"per-frame RMS over {_PCM_FRAME}-sample windows — the schema / "
    "partitioning / Arrow-batch shape of a real audio featurizer, "
    "with the decode math checked exactly: the oracle regenerates "
    "the same samples arithmetically and computes the same RMS. "
    "Scales as a pure map stage — no shuffle, frames explode "
    "executor-side.",
)
def q183_audio_pcm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).select("doc_id")

    def synth(batches):
        # stand-in for reading real audio bytes: pack the deterministic
        # waveform as int16 LE PCM (this is the opaque binary column)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            i = np.arange(_PCM_SAMPLES)
            out = [
                (((k * 31 + i * 73) % 997 - 498).astype("<i2").tobytes())
                for k in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "pcm": out})

    audio = d.mapInPandas(synth, "doc_id long, pcm binary")

    def rms_frames(batches):
        for pdf in batches:
            rows = {"doc_id": [], "frame": [], "rms": []}
            for k, buf in zip(pdf["doc_id"], pdf["pcm"]):
                s = np.frombuffer(buf, dtype="<i2").astype(np.float64)
                for f in range(len(s) // _PCM_FRAME):
                    w = s[f * _PCM_FRAME : (f + 1) * _PCM_FRAME]
                    rows["doc_id"].append(k)
                    rows["frame"].append(f)
                    rows["rms"].append(
                        round(float(np.sqrt(np.sum(w * w) / _PCM_FRAME)), 4)
                    )
            yield pd.DataFrame(rows)

    return audio.mapInPandas(rms_frames, "doc_id long, frame int, rms double")
