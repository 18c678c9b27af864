"""Round-3 gates, batch 29: operational lifecycle + final API
surfaces — TTL retention by partition drop (q244: expiry is METADATA
work, never a rewrite), late-arriving dimension reconciliation (q245:
unmatched facts park and reconcile losslessly), bitemporal querying
(q246: transaction-time versions x valid-time SCD2), FORWARD as-of
join (q247), UDTF with TABLE arguments (q248), SQL pipe syntax
(q249), and lateral column aliases (q250). With q243 (row-level
physical purge) the deletion/repair regimes of a production table are
fully covered.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, cents_sql
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q244
@register(
    "q244_retention_ttl",
    """
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, value FROM events
        WHERE user_id % 10 = 0
    ),
    cutoff AS (SELECT MAX(day) - INTERVAL 7 DAY AS c FROM d)
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 3) AS total,
           TRUE AS survivors_untouched
    FROM d WHERE day >= (SELECT c FROM cutoff)
    GROUP BY day ORDER BY day
    """,
    doc="TTL retention by PARTITION DROP: a day-partitioned table "
    "expires everything older than a 7-day window (cutoff derived "
    "in-query from max day) by REMOVING partition directories — an "
    "O(expired partitions) metadata operation; rewriting a 100 TB "
    "table to expire 1% of it would be the pathological alternative. "
    "The gate asserts both halves: expired days are physically gone "
    "(directory listing), and every SURVIVING partition's data files "
    "are name-identical — retention never rewrote live data. "
    "Complements q243 (row-level purge: rewrite) and q225 (partition "
    "restatement: partial overwrite) as the third deletion regime.",
)
def q244_retention_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(F.col("ts").cast("date").alias("day"), "value")
    )
    staged = staging_dir("ttl_table_")
    ev.write.mode("overwrite").partitionBy("day").parquet(staged)

    max_day = ev.agg(F.max("day")).collect()[0][0]  # scalar bound, tiny
    cutoff = max_day - __import__("datetime").timedelta(days=7)
    part_dirs = sorted(
        d for d in os.listdir(staged) if d.startswith("day=")
    )
    survivors = {
        d: sorted(os.listdir(os.path.join(staged, d)))
        for d in part_dirs
        if d >= f"day={cutoff}"
    }
    expired = [d for d in part_dirs if d < f"day={cutoff}"]
    assert expired, "fixture yielded nothing to expire"
    for d in expired:  # the TTL job: directory removals only
        shutil.rmtree(os.path.join(staged, d))

    untouched = all(
        sorted(os.listdir(os.path.join(staged, d))) == files
        for d, files in survivors.items()
    )
    assert untouched and not any(
        d in os.listdir(staged) for d in expired
    ), "retention altered surviving partitions"
    return (
        spark.read.parquet(staged)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("total"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            "total",
            F.lit(untouched).alias("survivors_untouched"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------- q245
@register(
    "q245_late_arriving_dimension",
    """
    WITH f AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    dim_v1 AS (SELECT c_custkey, c_mktsegment FROM customer
               WHERE c_custkey % 5 <> 0),
    dim_v2 AS (SELECT c_custkey, c_mktsegment FROM customer)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           CAST((SELECT COUNT(*) FROM f JOIN dim_v1
                 ON o_custkey = c_custkey) AS BIGINT) AS matched_first_pass,
           CAST((SELECT COUNT(*) FROM f WHERE o_custkey IN
                 (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0))
               AS BIGINT) AS parked_rows
    FROM f JOIN dim_v2 ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="Late-arriving dimension reconciliation: 20% of customers are "
    "missing when facts first land (dim v1), so an inner join would "
    "silently drop their orders — instead unmatched facts are PARKED "
    "via an anti-join (a real staging write, the holding pen), and "
    "when the complete dimension arrives the parked facts reconcile "
    "and union with the first pass. The gate pins losslessness: the "
    "final per-segment totals equal a direct join against the full "
    "dimension (the oracle), and the first-pass/parked row counts "
    "are reported so the 80/20 split is visible. Both passes are "
    "broadcast-dim joins; the park-and-retry costs one anti-join and "
    "a bounded re-join of the parked slice — not a re-scan of the "
    "fact table.",
)
def q245_late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dim_v1 = c.filter(F.col("c_custkey") % 5 != 0)

    matched1 = o.join(F.broadcast(dim_v1), o["o_custkey"] == c["c_custkey"])
    parked_dir = staging_dir("parked_facts_")
    o.join(
        F.broadcast(dim_v1.select("c_custkey")),
        o["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).write.mode("overwrite").parquet(parked_dir)

    parked = spark.read.parquet(parked_dir)
    n_matched1 = matched1.count()
    n_parked = parked.count()
    reconciled = parked.join(
        F.broadcast(c), parked["o_custkey"] == c["c_custkey"]
    )
    final = matched1.select("o_totalprice", "c_mktsegment").unionAll(
        reconciled.select("o_totalprice", "c_mktsegment")
    )
    return (
        final.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
        )
        .select(
            "c_mktsegment",
            "n",
            "total",
            F.lit(n_matched1).cast("bigint").alias("matched_first_pass"),
            F.lit(n_parked).cast("bigint").alias("parked_rows"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------- q246
@register(
    "q246_bitemporal_query",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0)
    SELECT 0 AS tx_version,
           'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY 1, 2
    UNION ALL
    SELECT 1, 'tier_' || CAST((user_id + 1) % 3 AS VARCHAR),
           CAST(COUNT(*) AS BIGINT)
    FROM u GROUP BY 1, 2
    ORDER BY tx_version, tier
    """,
    doc="Bitemporal query — BOTH time axes at once: transaction time "
    "('what did the warehouse believe at commit v?') via the "
    "versioned-table store (q74), and valid time ('which dimension "
    "row was effective at event time t?') via SCD2 validity "
    "intervals (q76/q207). The gate commits two transaction versions "
    "of a tier dimension (v1 restates every assignment — the "
    "correction-run scenario), then answers the same valid-time "
    "point query against EACH committed belief, proving time travel "
    "and as-of composition: read_version(v) -> validity-interval "
    "filter -> aggregate. The axes are orthogonal in the plan (one "
    "version read + one interval filter each) — no cross-product of "
    "histories, which is what makes bitemporal audits affordable at "
    "scale. Oracle reconstructs both beliefs relationally.",
)
def q246_bitemporal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.ingestion.versioned import (
        read_version,
        write_version,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 0
    )
    mids = ev.groupBy("user_id").agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid_us"),
        F.unix_micros(F.min("ts")).alias("first_us"),
    )

    def scd2(tier_shift: int) -> DataFrame:
        lo = F.lit(-(2**63) + 1)
        hi = F.lit(2**63 - 1)
        tier = F.concat(
            F.lit("tier_"),
            ((F.col("user_id") + tier_shift) % 3).cast("string"),
        )
        early = mids.select(
            "user_id", "first_us", tier.alias("tier"),
            lo.alias("from_us"), F.col("mid_us").alias("to_us"),
        )
        late = mids.select(
            "user_id", "first_us",
            F.concat(
                F.lit("tier_"),
                ((F.col("user_id") + tier_shift + 1) % 3).cast("string"),
            ).alias("tier"),
            F.col("mid_us").alias("from_us"), hi.alias("to_us"),
        )
        return early.unionAll(late)

    table = staging_dir("bitemporal_")
    write_version(spark, scd2(0), table)   # tx v0: original belief
    write_version(spark, scd2(1), table)   # tx v1: corrected belief

    out = None
    for v in (0, 1):
        hist = read_version(spark, table, version=v)
        # valid-time point query: the tier effective at each user's
        # FIRST event (falls in the early interval by construction)
        asof = hist.filter(
            (F.col("from_us") <= F.col("first_us"))
            & (F.col("first_us") < F.col("to_us"))
        )
        agg = (
            asof.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit(v).alias("tx_version"), "tier", "n_users")
        )
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy("tx_version", "tier")


# ---------------------------------------------------------------- q247
@register(
    "q247_asof_join_forward",
    """
    WITH e AS (SELECT event_id, user_id, ts, value, event_type
               FROM events WHERE user_id % 20 = 0),
    lt AS (SELECT MIN(event_type) AS t FROM e),
    rt AS (SELECT MAX(event_type) AS t FROM e),
    l AS (SELECT event_id, user_id, ts, value FROM e, lt
          WHERE event_type = lt.t),
    r AS (SELECT user_id, ts AS rts, MIN(value) AS rvalue
          FROM e, rt WHERE event_type = rt.t GROUP BY user_id, ts)
    SELECT l.event_id,
           CAST(l.user_id AS BIGINT) AS user_id,
           STRFTIME(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           ROUND((SELECT rvalue FROM r
                  WHERE r.user_id = l.user_id
                    AND r.rts = (SELECT MIN(rts) FROM r w
                                 WHERE w.user_id = l.user_id
                                   AND w.rts >= l.ts)), 3) AS next_value
    FROM l ORDER BY event_id
    """,
    doc="FORWARD as-of join — for each event of the first type, the "
    "value of the user's NEXT event of the last type at-or-after it "
    "(the time-to-next-action / next-quote shape; q22 covers the "
    "backward direction). The operator's union + key-partitioned "
    "window with first(ignorenulls) over the FOLLOWING frame costs "
    "one shuffle on user_id — same class as an equi-join, never a "
    "per-row subquery scan. The oracle is deliberately formulated "
    "the OTHER way (correlated MIN-timestamp subqueries), so the "
    "window rewrite is checked against an independent derivation, "
    "not a mirror of itself; the right side is pre-deduplicated per "
    "(user, ts) as the operator's tie contract requires.",
)
def q247_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    lt = e.agg(F.min("event_type").alias("t"))
    rt = e.agg(F.max("event_type").alias("t"))
    left = (
        e.crossJoin(F.broadcast(lt))
        .filter(F.col("event_type") == F.col("t"))
        .select("event_id", "user_id", "ts", "value")
    )
    right = (
        e.crossJoin(F.broadcast(rt))
        .filter(F.col("event_type") == F.col("t"))
        .groupBy("user_id", "ts")
        .agg(F.min("value").alias("rvalue"))
    )
    joined = asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["rvalue"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("rvalue_right", 3).alias("next_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------- q248
@register(
    "q248_udtf_table_argument",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 3) AS total,
           ROUND(MAX(value) - MIN(value), 3) AS value_range
    FROM events
    WHERE user_id % 25 = 0
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Python UDTF with a TABLE argument (Spark 4): the function is "
    "invoked as `stats(TABLE(events) PARTITION BY user_id)` — the "
    "engine shuffles the table BY THE DECLARED KEY and streams each "
    "partition's rows through one UDTF instance (eval per row, "
    "terminate emits), so arbitrary per-group Python logic gets "
    "distributed execution with no manual groupBy plumbing — the "
    "relational spelling of applyInPandas for row-streaming "
    "algorithms that never hold the group in memory. Completes the "
    "UDTF family: q57 (lateral correlated), q202 (polymorphic "
    "analyze). The gate's per-user stats are pinned by the plain "
    "GROUP BY oracle.",
)
def q248_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n bigint, total double, value_range double")
    class PerUserStats:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.total = 0.0
            self.vmin = None
            self.vmax = None

        def eval(self, row):
            self.uid = row["user_id"]
            self.n += 1
            v = row["value"]
            self.total += v
            self.vmin = v if self.vmin is None else min(self.vmin, v)
            self.vmax = v if self.vmax is None else max(self.vmax, v)

        def terminate(self):
            if self.uid is not None:
                yield (
                    self.uid,
                    self.n,
                    round(self.total, 3),
                    round(self.vmax - self.vmin, 3),
                )

    spark.udtf.register("q248_per_user_stats", PerUserStats)
    load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 25 == 0
    ).select("user_id", "value").createOrReplaceTempView("q248_ev")
    return spark.sql(
        """
        SELECT user_id, n, total, value_range
        FROM q248_per_user_stats(TABLE(q248_ev) PARTITION BY user_id)
        ORDER BY user_id
        """
    )


# ---------------------------------------------------------------- q249
@register(
    "q249_sql_pipe_syntax",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- cent-quantized per row: order-free exact sum (q212
           -- recipe; raw double SUMs are engine-order-dependent)
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
               * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS revenue
    FROM lineitem
    WHERE l_quantity > 25
    GROUP BY l_returnflag
    HAVING COUNT(*) > 100
    ORDER BY l_returnflag
    """,
    doc="SQL pipe syntax (Spark 4 |> operators): the same "
    "filter -> aggregate -> having -> order pipeline written in "
    "linear dataflow order — `FROM t |> WHERE ... |> AGGREGATE ... "
    "GROUP BY ... |> WHERE ... |> ORDER BY` — instead of SQL's "
    "inside-out clause nesting. Each pipe stage compiles to exactly "
    "the operator the classic form produces (the plan is identical: "
    "pushed filter, partial+final hash aggregate, sort), so the "
    "readability is free. The oracle is the classic spelling of the "
    "same query, pinning semantic equivalence between the notations.",
)
def q249_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q249_lineitem"
    )
    revenue_c = cents_sql("l_extendedprice", "(1 - l_discount)")
    return spark.sql(
        f"""
        FROM q249_lineitem
        |> WHERE l_quantity > 25
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     ROUND(CAST(SUM({revenue_c}) AS DOUBLE)
                         / 100, 2) AS revenue
           GROUP BY l_returnflag
        |> WHERE n > 100
        |> SELECT l_returnflag, n, revenue
        |> ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------- q250
@register(
    "q250_lateral_column_alias",
    """
    SELECT o_orderpriority,
           -- integer-cent AVG + scale-first rounds (q212/q208
           -- recipes): the money average is a rational that can tie
           -- on a .005 boundary, and each derived ROUND(x, 2) of a
           -- computed double is the per-engine tie-resolution class
           ROUND(AVG(cents)) / 100.0 AS avg_price,
           ROUND(100 * ((ROUND(AVG(cents)) / 100.0) * 1.1)) / 100.0
               AS with_uplift,
           ROUND(100 * ((ROUND(100 * ((ROUND(AVG(cents)) / 100.0)
                 * 1.1)) / 100.0)
                 - (ROUND(AVG(cents)) / 100.0))) / 100.0
               AS uplift_amount
    FROM (SELECT o_orderpriority,
                 CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
          FROM orders)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Lateral column aliases: a SELECT item referencing an alias "
    "defined EARLIER IN THE SAME SELECT LIST (avg_price -> "
    "with_uplift -> uplift_amount), so derived-metric chains read "
    "top-to-bottom instead of re-nesting the whole expression at "
    "each step — on wide metric queries the classic spelling "
    "duplicates every base expression once per derivation level (the "
    "oracle shows the expanded form). Catalyst inlines the aliases "
    "at analysis, so the plan is the same single hash aggregate — "
    "readability, zero cost.",
)
def q250_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q250_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               ROUND(AVG({cents_sql("o_totalprice")}))
                   / 100.0 AS avg_price,
               ROUND(100 * (avg_price * 1.1)) / 100.0 AS with_uplift,
               ROUND(100 * (with_uplift - avg_price)) / 100.0
                   AS uplift_amount
        FROM q250_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )
