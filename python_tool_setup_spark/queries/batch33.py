"""Round-4 gates, batch 33: exactly-once foreachBatch spooling (q263
— the batchId-keyed idempotent writer q254's at-least-once note points
at), per-key EWMA smoothing (q264 — closed-form, power-of-two decay so
both engines agree), and CUSUM change-point detection over the event
timeline (q265 — the classic drift alarm, in its prefix-sum closed
form so it's two windows, not a recursive loop).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q263
@register(
    "q263_idempotent_spool",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id % 50 = 0)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 3) AS sum_value
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    doc="EXACTLY-ONCE foreachBatch spooling (the upgrade q254's "
    "at-least-once appends document as missing): each micro-batch "
    "writes its rows to a spool directory KEYED BY batch_id "
    "(.../batch_id=<N>/) with per-directory overwrite, and the gate "
    "simulates Spark's batch-retry contract by running every batch's "
    "writer TWICE — a blind append would double every row; the "
    "batchId-keyed overwrite makes the retry a no-op, which is "
    "exactly how production foreachBatch sinks achieve effective "
    "exactly-once on top of at-least-once delivery. The spool is "
    "then read back and aggregated; the oracle computes the same "
    "aggregate from the raw shard, so ANY duplicated or lost row "
    "fails the hash. Two-file drop (maxFilesPerTrigger=1) forces "
    "multiple batches so the batch_id keying is actually exercised.",
)
def q263_idempotent_spool(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 50 == 0)
        .select("event_id", "ts", "event_type", "value")
    )
    src = staging_dir("spool_src_")
    # two source files -> two micro-batches under maxFilesPerTrigger=1
    half = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") <= half).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") > half).write.mode("append").parquet(src)

    spool = staging_dir("spool_out_")

    def write_batch(batch_df, batch_id):
        # batchId-keyed overwrite: retry-safe (idempotent) by path
        dest = os.path.join(spool, f"batch_id={batch_id}")
        batch_df.write.mode("overwrite").parquet(dest)

    def spool_twice(batch_df, batch_id):
        write_batch(batch_df, batch_id)
        write_batch(batch_df, batch_id)  # simulated Spark retry

    (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(spool_twice)
        .option("checkpointLocation", staging_dir("ckpt_spool_"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    back = spark.read.option("basePath", spool).parquet(spool)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- q264
_EWMA_MIN_EVENTS = 5


@register(
    "q264_ewma_smoothing",
    f"""
    WITH ev AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE user_id % 40 = 0
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           -- per-row micro-units (q212 recipe): each v_i * 2^-k is an
           -- EXACT binary product, identical on both engines; only
           -- the double SUM order differs — the integer micro sum is
           -- order-free and the scale-0 round of the identical
           -- quotient double agrees on both engines
           ROUND(CAST(SUM(CAST(ROUND(1000000 *
                 (value * CASE WHEN rn = 1 THEN POWER(0.5, n - 1)
                               ELSE POWER(0.5, n - rn + 1) END))
                 AS BIGINT)) AS DOUBLE) / 1000) / 1000.0
               AS ewma
    FROM ev GROUP BY user_id HAVING MAX(n) >= {_EWMA_MIN_EVENTS}
    ORDER BY user_id
    """,
    doc="Per-key EWMA (exponentially-weighted moving average, "
    "alpha = 0.5) of event values — the streaming-metrics smoother, "
    "computed in CLOSED FORM instead of the recursive definition: "
    "e_n = sum_i w_i v_i with w_1 = 0.5^(n-1), w_i = 0.5^(n-i+1) — "
    "one rank window and one weighted sum, no per-row recursion, so "
    "at 100 TB it's a per-key window ride on the event-time "
    "partitioning. alpha = 0.5 is deliberate: every weight is a "
    "power of two, each product v_i * 2^-k is EXACT in binary FP, "
    "and the weighted terms are micro-quantized per row so the sum "
    "itself is an order-free integer on both engines. "
    "Ordering ties broken by event_id so the weight assignment is "
    "total.",
)
def q264_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 40 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    weight = F.when(
        F.col("rn") == 1, F.pow(F.lit(0.5), F.col("n") - 1)
    ).otherwise(F.pow(F.lit(0.5), F.col("n") - F.col("rn") + 1))
    return (
        ranked.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            # per-row micro-units: see the oracle comment
            (
                F.round(
                    F.sum(
                        F.round(1000000 * (F.col("value") * weight)).cast(
                            "long"
                        )
                    ).cast("double")
                    / 1000
                )
                / 1000.0
            ).alias("ewma"),
        )
        .filter(F.col("n_events") >= _EWMA_MIN_EVENTS)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------- q265
@register(
    "q265_cusum_changepoint",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    tgt AS (SELECT CAST(ROUND(1000.0 * AVG(x)) AS BIGINT) AS t FROM daily),
    pre AS (
        SELECT day, x,
               SUM(1000 * x - (SELECT t FROM tgt))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    ),
    cu AS (
        SELECT day, x,
               s - MIN(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cusum_milli
        FROM pre
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS change_day,
           CAST(x AS BIGINT) AS day_count,
           CAST(cusum_milli AS BIGINT) AS cusum_milli
    FROM cu ORDER BY cusum_milli DESC, day LIMIT 1
    """,
    doc="CUSUM change-point detection over the daily event volume — "
    "the classic monitoring alarm for 'did the firehose shift?'. The "
    "textbook definition is recursive (C_t = max(0, C_{t-1} + x_t - "
    "target)); the gate uses the equivalent PREFIX-SUM closed form "
    "C_t = S_t - min_{j<=t} S_j (S = running sum of deviations), "
    "which is two cumulative windows over the tiny daily aggregate — "
    "no recursion, no driver loop, and the same shape works on a "
    "100 TB event table because the windows run over days, not "
    "events. Deviations are held in integer milli-units (target = "
    "round(1000*mean)) so both engines agree exactly; the output "
    "pins the argmax day (deterministic day tie-break).",
)
def q265_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.blockrank import prefix_agg

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tgt = daily.agg(
        F.round(F.lit(1000.0) * F.avg("x")).cast("long").alias("t")
    )
    dev = daily.crossJoin(F.broadcast(tgt)).withColumn(
        "d", F.lit(1000) * F.col("x") - F.col("t")
    )
    # two chained block-offset prefixes over the daily aggregate: the
    # cumulative deviation s, then its running minimum — no global
    # window even when the day domain grows to decades
    pre = prefix_agg(dev, [("day", "asc")], {"s_before": ("sum", "d")})
    pre = pre.withColumn("s", F.col("s_before") + F.col("d"))
    cu = prefix_agg(pre, [("day", "asc")], {"min_before": ("min", "s")})
    cu = cu.withColumn(
        "cusum_milli",
        F.col("s") - F.least(F.coalesce("min_before", F.col("s")), F.col("s")),
    )
    return (
        cu.orderBy(F.col("cusum_milli").desc(), "day")
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.col("x").cast("bigint").alias("day_count"),
            F.col("cusum_milli").cast("bigint").alias("cusum_milli"),
        )
    )


# ---------------------------------------------------------------- q266
_SCENE_FRAME = 256  # bytes per frame
_SCENE_REP = 2  # frames per planted scene


@register(
    "q266_scene_change_detection",
    f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id < 25 AND length(text) >= {_SCENE_FRAME}
          AND octet_length(encode(text)) = length(text)
    ),
    staged AS (
        -- the gate stages each doc as a fake video whose byte stream
        -- repeats every {_SCENE_FRAME}-byte slice {_SCENE_REP}x (one
        -- 'scene' per slice); rebuild the identical stream here
        SELECT doc_id,
               string_agg(repeat(substr(text, s * {_SCENE_FRAME} + 1,
                                        {_SCENE_FRAME}), {_SCENE_REP}),
                          '' ORDER BY s) AS stream
        FROM d, UNNEST(generate_series(0,
            CAST(CEIL(length(text) / {_SCENE_FRAME}.0) AS INT) - 1)) AS t(s)
        GROUP BY doc_id
    ),
    frames AS (
        SELECT doc_id, i,
               substr(stream, i * {_SCENE_FRAME} + 1, {_SCENE_FRAME}) AS fr
        FROM staged, UNNEST(generate_series(0,
            CAST(CEIL(length(stream) / {_SCENE_FRAME}.0) AS INT) - 1)) AS t(i)
    ),
    marked AS (
        SELECT doc_id,
               (i > 0 AND fr <> LAG(fr) OVER
                   (PARTITION BY doc_id ORDER BY i)) AS changed
        FROM frames
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(*) FILTER (WHERE changed) AS BIGINT) AS n_scene_changes
    FROM marked
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Scene-change detection over video-shaped binary columns (L5): "
    "each staged media file is frame-sampled (q100's 1->N mapInPandas "
    "plumbing, fake decoder over byte strides), and a scene boundary "
    "is any frame whose digest differs from its predecessor — the "
    "keyframe-selection primitive video training pipelines run before "
    "sampling. The fixture plants ground truth by repeating every "
    f"{_SCENE_FRAME}-byte slice {_SCENE_REP}x (consecutive frames "
    "within a scene are byte-identical), and the oracle rebuilds the "
    "identical byte stream relationally and counts LAG-inequalities — "
    "so the boundary count is value-checked, not asserted. Real "
    "decoders slot in behind the same mapInPandas signature "
    "(NotImplementedError boundary, llm/multimodal.py). Plan: frames "
    "explode in the scan-side Arrow batch, the lag rides one "
    "per-file window — at 100 TB each video's frames stay in one "
    "partition and nothing global sorts.",
)
def q266_scene_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from python_tool_setup_spark.llm.multimodal import read_media, sample_frames

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 25)
        & (F.length("text") >= _SCENE_FRAME)
        & (F.octet_length("text") == F.length("text"))
    )
    media_dir = staging_dir("scenes_")
    for row in d.select("doc_id", "text").collect():  # <=25 small files
        raw = row["text"].encode("utf-8")
        stream = b"".join(
            raw[off : off + _SCENE_FRAME] * _SCENE_REP
            for off in range(0, len(raw), _SCENE_FRAME)
        )
        with open(os.path.join(media_dir, f"doc_{row['doc_id']}.bin"), "wb") as f:
            f.write(stream)
    frames = sample_frames(
        read_media(spark, media_dir, glob="*.bin"), every_n_bytes=_SCENE_FRAME
    ).select(
        F.regexp_extract("path", r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        "frame_index",
        "frame_digest",
    )
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    marked = frames.withColumn(
        "changed",
        (F.col("frame_index") > 0)
        & (F.col("frame_digest") != F.lag("frame_digest").over(w)),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum(F.col("changed").cast("long"))
            .cast("bigint")
            .alias("n_scene_changes"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- q267
@register(
    "q267_xml_source",
    """
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total
    FROM orders WHERE o_orderkey % 11 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Native XML file source (Spark 4 built-in spark-xml, completing "
    "the S13 format matrix beside csv/json/parquet/orc/text/binary): "
    "an orders shard is written as XML documents (one <order> row tag "
    "per record) via the built-in XML WRITER, read back with "
    "spark.read.format('xml').option('rowTag', ...) with an explicit "
    "schema, and aggregated; the oracle computes the same aggregate "
    "relationally from the parquet fixture, so the XML round-trip is "
    "value-exact (status strings, prices to 2dp). Schema given "
    "explicitly — the inference pass is skipped exactly as the "
    "reference's production guidance prescribes (framework.py:32).",
)
def q267_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.staging import staging_dir as _sd

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    xml_dir = _sd("xml_src_")
    o.write.format("xml").option("rowTag", "order").mode("overwrite").save(
        xml_dir
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .load(xml_dir)
    )
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
        )
        .orderBy("status")
    )
