"""Engine-surface gates, batch 4 (q126-q129): stream-static broadcast
enrichment, two-sided cogrouped pandas aggregation, malformed-record
CSV handling, and time-range (RANGE BETWEEN interval) window frames.

Oracle conventions as everywhere: identical aliases, BIGINT casts on
integer aggregates, identical ROUNDs, deterministic orders.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- q126
@register(
    "q126_stream_static_join",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    doc="Stream-static enrichment: the events file-stream joins the "
    "static customer→nation dimension (broadcast — the static side "
    "ships to executors once and every micro-batch probes it, no "
    "state store involved), then aggregates per nation across the "
    "whole drained stream. The oracle is the identical batch join.",
)
def q126_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.queries.streaming import _drain, _events_stream

    stream, _events = _events_stream(spark, sf_dir)
    dim = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _drain(agg, "complete")


# ---------------------------------------------------------------- q127
@register(
    "q127_cogrouped_pandas",
    """
    WITH o AS (
        -- integer cents (q212 recipe, knife_edge_audit): raw money
        -- sums are the order-dependent class even per key
        SELECT o_custkey AS key, COUNT(*) AS n_orders,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS total_price_c
        FROM orders WHERE o_custkey < 300 GROUP BY o_custkey
    ),
    e AS (
        SELECT user_id AS key, COUNT(*) AS n_events,
               SUM(CAST(ROUND(100 * value) AS BIGINT)) AS total_value_c
        FROM events WHERE user_id < 300 GROUP BY user_id
    )
    SELECT COALESCE(o.key, e.key) AS key,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           ROUND(CAST(COALESCE(o.total_price_c, 0) AS DOUBLE) / 100, 2)
               AS total_price,
           ROUND(CAST(COALESCE(e.total_value_c, 0) AS DOUBLE) / 100, 2)
               AS total_value
    FROM o FULL OUTER JOIN e ON o.key = e.key
    """,
    doc="Two-sided cogrouped pandas aggregation (the "
    "groupBy(...).cogroup(...).applyInPandas surface): orders and "
    "events shuffle once each on the shared key and meet per-key in "
    "one Arrow-batched worker — the shape custom per-entity "
    "reconciliation logic takes when a join+agg can't express it. "
    "The oracle is the equivalent full-outer join of the two "
    "aggregates, proving the cogroup semantics exactly.",
)
def q127_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME key-range slice on BOTH sides keeps the gate honest
    # about cogroup semantics (the slice still contains both-sides,
    # orders-only, and events-only keys) while bounding per-group
    # pandas invocations to 300 instead of every user in the table
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 300)
        .select(F.col("o_custkey").alias("key"), "o_totalprice")
    )
    events = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 300)
        .select(F.col("user_id").alias("key"), "value")
    )

    def merge(ol: pd.DataFrame, ev: pd.DataFrame) -> pd.DataFrame:
        key = ol["key"].iloc[0] if len(ol) else ev["key"].iloc[0]
        # integer cents: mirror the oracle's exact arithmetic (row-local
        # 100*x doubles are bit-identical across engines; the int64 sum
        # is order-free)
        pc = int((100.0 * ol["o_totalprice"]).round().astype("int64").sum())
        vc = int((100.0 * ev["value"]).round().astype("int64").sum())
        return pd.DataFrame(
            {
                "key": [key],
                "n_orders": [len(ol)],
                "n_events": [len(ev)],
                "total_price": [round(pc / 100.0, 2)],
                "total_value": [round(vc / 100.0, 2)],
            }
        )

    out = (
        orders.groupBy("key")
        .cogroup(events.groupBy("key"))
        .applyInPandas(
            merge,
            "key long, n_orders long, n_events long, "
            "total_price double, total_value double",
        )
    )
    return out


# ---------------------------------------------------------------- q128
_CSV_N = 200
_CSV_BAD_EVERY = 17


@register(
    "q128_malformed_records",
    f"""
    WITH r AS (SELECT unnest(range({_CSV_N})) AS i),
        flags AS (SELECT i, (i % {_CSV_BAD_EVERY} = 0) AS bad FROM r)
    SELECT CAST({_CSV_N} AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_good,
           CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_corrupt,
           CAST(SUM(CASE WHEN NOT bad THEN i ELSE 0 END) AS BIGINT) AS sum_a,
           CAST(SUM(CASE WHEN NOT bad THEN i * 2 ELSE 0 END) AS BIGINT)
               AS sum_b
    FROM flags
    """,
    doc="Malformed-record handling for semi-structured ingestion: a "
    "CSV with a deliberately corrupt line every 17th row is read in "
    "PERMISSIVE mode with a _corrupt_record column; good rows parse, "
    "bad rows surface for quarantine instead of failing the job (the "
    "S13 source-option surface the reference exposes via "
    "options-passthrough). The oracle recomputes the expected "
    "good/corrupt partition arithmetically.",
)
def q128_malformed_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = staging_dir("badcsv_") + "/data.csv"
    with open(path, "w") as f:
        for i in range(_CSV_N):
            if i % _CSV_BAD_EVERY == 0:
                f.write(f"bad_row_{i},oops,extra\n")
            else:
                f.write(f"{i},{i * 2}\n")
    df = (
        spark.read.schema("a INT, b INT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # PERMISSIVE corrupt-column counting requires it
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_total"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_corrupt"),
        F.coalesce(F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("a"))), F.lit(0))
        .cast("bigint")
        .alias("sum_a"),
        F.coalesce(F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("b"))), F.lit(0))
        .cast("bigint")
        .alias("sum_b"),
    )


# ---------------------------------------------------------------- q129
@register(
    "q129_rolling_time_window",
    """
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           -- integer-cent AVG + scale-first round (q212/q208
           -- recipes): exact window sums, engine-agreeing round
           ROUND(10000 * AVG(cents) OVER w) / 1000000.0 AS avg_1h
    FROM (SELECT event_id, user_id,
                 CAST(ROUND(100 * value) AS BIGINT) AS cents,
                 epoch_ms(ts) AS ts_ms FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing 1-hour per-user rolling aggregate with a TIME-RANGE "
    "frame (RANGE BETWEEN 3600000 PRECEDING over exact epoch millis, peers "
    "included — not a row-count frame): the batch analogue of a "
    "sliding stream window, one shuffle on user_id. Both engines "
    "evaluate the identical numeric range frame.",
)
def q129_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        cents(F.col("value")).alias("cents"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-3600000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        # integer-cent AVG + scale-first: see the oracle comment
        (F.round(10000 * F.avg("cents").over(w)) / 1000000.0).alias(
            "avg_1h"
        ),
    )
