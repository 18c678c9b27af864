"""Round-5 gates, batch 138: derived-column consistency audit
(q487 — denormalized columns drift: o_totalprice is definitionally
sum(l_extendedprice*(1+tax)*(1-discount)) over the order's items;
this audit recomputes the definition in exact integer basis-point
arithmetic and histograms the per-order deviation, the check every
warehouse with materialized derived columns should run after each
load) and event-order inversion audit (q488 — streaming-ingest
health: within each user's stream, ingest sequence (event_id) and
event time (ts) should agree; adjacent inversions measure
out-of-order delivery, and the max backstep is the watermark bound
a streaming job actually needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# deviation buckets in ppm of the recomputed total
_DEV_BUCKETS = (
    ("0_exact", 0),
    ("1_within_100ppm", 100),
    ("2_within_1pct", 10_000),
)
_BUCKET_ELSE = "3_above_1pct"


@register(
    "q487_derived_column_consistency",
    f"""
    WITH item AS (
        SELECT l_orderkey,
               CAST(ROUND(100 * l_extendedprice) AS BIGINT)
                   * (10000 + CAST(ROUND(l_tax * 10000) AS BIGINT))
                   * (10000 - CAST(ROUND(l_discount * 10000)
                                   AS BIGINT)) AS contrib_e8
        FROM lineitem
    ),
    per_order AS (
        SELECT l_orderkey AS k,
               CAST(ROUND(SUM(contrib_e8) / 100000000.0) AS BIGINT)
                   AS exp_cents
        FROM item GROUP BY 1
    ),
    dev AS (
        SELECT CAST(ROUND((CAST(ROUND(100 * o.o_totalprice)
                   AS BIGINT) - p.exp_cents) * 1000000.0
                   / p.exp_cents) AS BIGINT) AS dev_ppm
        FROM orders o JOIN per_order p ON p.k = o.o_orderkey
    ),
    bucketed AS (
        SELECT CASE
            WHEN ABS(dev_ppm) <= 0 THEN '0_exact'
            WHEN ABS(dev_ppm) <= 100 THEN '1_within_100ppm'
            WHEN ABS(dev_ppm) <= 10000 THEN '2_within_1pct'
            ELSE '{_BUCKET_ELSE}' END AS bucket
        FROM dev
    ),
    tot AS (SELECT COUNT(*) AS n FROM bucketed)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(COUNT(*) * 1000000.0 / MAX(t.n)) AS BIGINT)
               AS share_ppm
    FROM bucketed CROSS JOIN tot t
    GROUP BY bucket ORDER BY bucket
    """,
    doc="Derived-column consistency audit (denormalized columns "
    "drift: o_totalprice is definitionally sum(l_extendedprice * "
    "(1+l_tax) * (1-l_discount)) over the order's items — the "
    "check every warehouse with materialized derived columns "
    "should run after each load): the definition is recomputed "
    "in EXACT integer arithmetic (cents x basis-points x "
    "basis-points, one e8 descale at the end, below 2^53 so the "
    "single division is exactly representable), per-order "
    "deviation ppm-quantized, and the report is a 4-bucket "
    "deviation histogram (exact / 100ppm / 1% / worse). Scale: "
    "one map-side-combined groupBy on the FK + one broadcast-"
    "free co-partitioned join with orders + a 4-row aggregate; "
    "nothing holds more than a running sum per order.",
)
def q487_derived_column_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    contrib = (
        cents(F.col("l_extendedprice"))
        * (10000 + F.round(F.col("l_tax") * 10000).cast("long"))
        * (10000 - F.round(F.col("l_discount") * 10000).cast("long"))
    )
    per_order = (
        li.select(F.col("l_orderkey").alias("k"), contrib.alias("c"))
        .groupBy("k")
        .agg(
            F.round(F.sum("c") / 100000000.0)
            .cast("long")
            .alias("exp_cents")
        )
    )
    dev = o.join(per_order, o.o_orderkey == per_order.k).select(
        F.round(
            (cents(F.col("o_totalprice")) - F.col("exp_cents")) * 1000000.0
            / F.col("exp_cents")
        )
        .cast("long")
        .alias("dev_ppm")
    )
    bucket = F.when(F.abs("dev_ppm") <= 0, "0_exact")
    for name, bound in _DEV_BUCKETS[1:]:
        bucket = bucket.when(F.abs("dev_ppm") <= bound, name)
    bucket = bucket.otherwise(_BUCKET_ELSE)
    bucketed = dev.select(bucket.alias("bucket"))
    tot = bucketed.agg(F.count(F.lit(1)).alias("n"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.count(F.lit(1)) * 1000000.0 / F.max("n"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- q488
@register(
    "q488_event_order_inversions",
    """
    WITH seq AS (
        SELECT user_id,
               EPOCH_MS(ts) AS ms,
               LAG(EPOCH_MS(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id) AS prev_ms
        FROM events
    ),
    marked AS (
        SELECT user_id,
               CASE WHEN prev_ms IS NOT NULL AND ms < prev_ms
                    THEN 1 ELSE 0 END AS inv,
               CASE WHEN prev_ms IS NOT NULL AND ms < prev_ms
                    THEN prev_ms - ms ELSE 0 END AS backstep_ms
        FROM seq
    ),
    per_user AS (
        SELECT user_id, COUNT(*) AS n_ev, SUM(inv) AS n_inv,
               MAX(backstep_ms) AS mx
        FROM marked GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(n_inv) AS BIGINT) AS n_inversions,
           CAST(ROUND(SUM(n_inv) * 1000000.0 / SUM(n_ev)) AS BIGINT)
               AS inversion_ppm,
           CAST(SUM(CASE WHEN n_inv > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_users_with_inversions,
           CAST(MAX(mx) AS BIGINT) AS max_backstep_ms
    FROM per_user
    """,
    doc="Event-order inversion audit (streaming-ingest health: "
    "within each user's stream the ingest sequence (event_id) "
    "and event time (ts) should agree; adjacent inversions "
    "measure out-of-order delivery and the max backstep is the "
    "delay bound — i.e. the watermark — a streaming job actually "
    "needs to avoid dropping that user's late data): one window "
    "PARTITIONED by user (millions of small partitions — the "
    "scalable window shape, no global sort anywhere), LAG of the "
    "epoch-millis timestamp over the unique ingest sequence, "
    "then two levels of exact-integer aggregation. Scale: one "
    "shuffle on user_id; per-task state is one user's event "
    "run, and the report is a single row.",
)
def q488_event_order_inversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.lag(F.unix_millis("ts")).over(w).alias("prev_ms"),
    )
    inv = F.col("prev_ms").isNotNull() & (
        F.col("ms") < F.col("prev_ms")
    )
    marked = seq.select(
        "user_id",
        inv.cast("long").alias("inv"),
        F.when(inv, F.col("prev_ms") - F.col("ms"))
        .otherwise(0)
        .alias("backstep_ms"),
    )
    per_user = marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum("inv").alias("n_inv"),
        F.max("backstep_ms").alias("mx"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum("n_inv").cast("long").alias("n_inversions"),
        F.round(F.sum("n_inv") * 1000000.0 / F.sum("n_ev"))
        .cast("long")
        .alias("inversion_ppm"),
        F.sum((F.col("n_inv") > 0).cast("long"))
        .cast("long")
        .alias("n_users_with_inversions"),
        F.max("mx").cast("long").alias("max_backstep_ms"),
    )
