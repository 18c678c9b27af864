"""Extended relational surface: pivot/unpivot, exact percentiles,
correlated subqueries, sliding + session event-time windows (batch
shapes of T4), completing the SURVEY.md §2.2/§2.3 inventory.

All oracles follow the conventions in queries/relational.py (identical
aliases + rounding on both sides, timestamps formatted to strings).

Scale notes (100 TB design):
- pivot with an explicit value list is a single hash aggregation — no
  second pass to discover distinct values;
- percentiles use Spark's exact ``percentile`` (sort-based partial
  aggregation per group); for ungrouped telemetry at extreme scale the
  approx variant (q-digest) is the right tool, but grouped exact
  percentiles parallelize per key and oracle-check exactly;
- correlated subqueries decorrelate in Catalyst to joins (EXISTS →
  left-semi, NOT EXISTS → left-anti, scalar → aggregate + equi-join),
  so they scale like the joins they become — visible in the plans
  ``tools/gate_plans.py capture`` writes;
- sliding windows expand each row to window/slide buckets (here 2) —
  cost is a constant small multiple of the input, then one shuffle;
- session windows are Spark-native ``session_window`` (merge-sort per
  key inside one shuffle), not a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

TS_FMT = "yyyy-MM-dd HH:mm:ss"
STRF = "%Y-%m-%d %H:%M:%S"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q45_pivot",
    """
    WITH o AS (
        SELECT o_orderpriority, o_orderstatus,
               -- per-row integer cents (q212 recipe) + scale-first
               -- round (q208 recipe): a money AVG is a rational that
               -- can tie exactly on a .005 boundary, and the raw
               -- double SUM under it is order-dependent
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderpriority,
           ROUND(AVG(CASE WHEN o_orderstatus = 'O' THEN cents END)) / 100.0
               AS avg_open,
           ROUND(AVG(CASE WHEN o_orderstatus = 'F' THEN cents END)) / 100.0
               AS avg_filled,
           ROUND(AVG(CASE WHEN o_orderstatus = 'P' THEN cents END)) / 100.0
               AS avg_pending,
           COUNT(*) AS n_orders
    FROM o
    GROUP BY o_orderpriority
    """,
    doc="Pivot with explicit value list (one hash-agg pass, no distinct-"
    "value discovery scan); oracle is the conditional-aggregation rewrite.",
)
def q45_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn(
        # cents + scale-first: see the oracle comment
        "cents", cents(F.col("o_totalprice"))
    )
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            (F.round(F.avg("cents")) / 100.0).alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "o_orderpriority",
        F.col("O_avg_price").alias("avg_open"),
        F.col("F_avg_price").alias("avg_filled"),
        F.col("P_avg_price").alias("avg_pending"),
        (
            F.coalesce("O_n", F.lit(0))
            + F.coalesce("F_n", F.lit(0))
            + F.coalesce("P_n", F.lit(0))
        ).alias("n_orders"),
    )


@register(
    "q46_unpivot",
    """
    SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    """,
    doc="Unpivot (wide→long melt); narrow output schema keeps downstream "
    "shuffles proportional to measures actually kept.",
)
def q46_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "q47_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Exact grouped percentiles (continuous interpolation — "
    "matches DuckDB quantile_cont) WITHOUT buffering raw values: "
    "the data collapses to a per-(group, value) count histogram, a "
    "window PARTITIONED by group accumulates cumulative counts over "
    "the distinct-value domain, and the straddling order statistics "
    "v[floor(k)], v[ceil(k)] for k=(n-1)p are picked out and "
    "interpolated v_lo + frac*(v_hi - v_lo) — the same formula both "
    "engines use, ROUND(4) absorbing the last-ulp difference. "
    "Scale: per-task state is the distinct-value histogram of one "
    "group, not its row buffer; the sketch path (approx_percentile, "
    "q67's accuracy gate) remains the default at 100 TB, with this "
    "as its exactness reference.",
)
def q47_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    pct = grouped_exact_percentiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        {"p50": 0.5, "p25": 0.25, "p95": 0.95},
    )
    return pct.select(
        "l_returnflag",
        F.round("p50", 4).alias("median_price"),
        F.round("p25", 4).alias("p25_price"),
        F.round("p95", 4).alias("p95_price"),
        "n",
    ).orderBy("l_returnflag")


_EXISTS_SQL = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o2
            WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P'
          )
"""


@register(
    "q48_exists_subquery",
    _EXISTS_SQL,
    doc="Correlated EXISTS / NOT EXISTS — Catalyst decorrelates to "
    "left-semi + left-anti joins (no per-row re-execution at scale).",
)
def q48_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice > 1.5 * (
        SELECT AVG(p2.p_retailprice) FROM part p2
        WHERE p2.p_brand = p.p_brand
    )
"""


@register(
    "q49_scalar_subquery",
    _SCALAR_SUBQ_SQL,
    doc="Correlated scalar subquery — decorrelates to per-brand aggregate "
    "+ equi-join (one shuffle on the correlation key).",
)
def q49_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_SCALAR_SUBQ_SQL)


@register(
    "q67_sketch_bounds",
    """
    SELECT l_returnflag,
           CAST(NULL AS BIGINT) AS approx_distinct,
           CAST(NULL AS BIGINT) AS exact_distinct,
           CAST(NULL AS DOUBLE) AS approx_p50,
           CAST(NULL AS DOUBLE) AS exact_p50
    FROM lineitem WHERE FALSE
    """,
    doc="Sketch accuracy gate: HLL approx_count_distinct (rsd 2%) and "
    "t-digest percentile_approx vs their exact counterparts per group; "
    "emits VIOLATING groups (>5% relative error) — the oracle asserts "
    "the result is EMPTY. Sketches are the 100 TB path (mergeable, "
    "bounded memory); this query pins their error envelope.",
)
def q67_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # two aggregation passes joined on the (tiny) group key: mixing
    # COUNT(DISTINCT) — which Expands input 2x — with value-buffering
    # exact percentile in ONE aggregate buffered the expanded rows too
    # and was ~7x slower
    pcts = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_distinct"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
    )
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    stats = pcts.join(F.broadcast(exact), "l_returnflag")
    bad_distinct = (
        F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
        > 0.05 * F.col("exact_distinct")
    )
    bad_p50 = (
        F.abs(F.col("approx_p50") - F.col("exact_p50")) > 0.05 * F.col("exact_p50")
    )
    return stats.filter(bad_distinct | bad_p50)


@register(
    "q50_window_sliding",
    f"""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '3 hours', ts) AS ws, event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours',
               event_type, value
        FROM events
    )
    SELECT STRFTIME(ws, '{STRF}') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 3) AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
    doc="Sliding event-time window (6h window, 3h slide): each row lands "
    "in window/slide = 2 buckets, then one shuffle; oracle is the "
    "union-of-shifted-tumblings rewrite.",
)
def q50_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q51_session_window",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '{STRF}') AS session_start,
           STRFTIME(MAX(ts) + INTERVAL '30 minutes', '{STRF}') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 3) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
    doc="Session windows (30 min gap) per user via Spark-native "
    "session_window — per-key session merge inside ONE shuffle; oracle "
    "is the gaps-and-islands rewrite (new session when gap >= 30 min, "
    "matching Spark's exclusive window end).",
)
def q51_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            F.date_format("w.end", TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q79_variant_json",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k
    FROM events GROUP BY event_type
    """,
    doc="Spark 4 VariantType surface: rows are round-tripped through "
    "to_json -> parse_json (VARIANT) and consumed via typed "
    "variant_get path extraction ($.u.value, $.event_type), plus "
    "variant extraction over the raw events.props JSON column. The "
    "oracle aggregates the same fields from the raw columns — "
    "matching proves the variant round-trip is lossless. Variant's "
    "binary encoding beats per-row string re-parsing at scale.",
)
def q79_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.struct("user_id", "value").alias("u"),
                "event_type",
            )
        )
    )
    parsed = e.select(
        F.variant_get(v, "$.event_type", "string").alias("event_type"),
        F.variant_get(v, "$.u.value", "double").alias("val"),
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("sum_value"),
        F.sum("k").alias("sum_k"),
    )
