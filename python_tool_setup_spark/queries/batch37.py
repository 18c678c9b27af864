"""Round-4 gates, batch 37: seasonal-naive forecasting baseline (q279
— the sanity baseline every volume forecast is judged against) and
bounded k-hop graph reachability (q280 — the neighborhood expansion
beside q117 PageRank / q72 components / triangle counting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_SEASON = 7  # weekly seasonality
_HOLDOUT = 5  # days scored


# ---------------------------------------------------------------- q279
@register(
    "q279_seasonal_naive_forecast",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY day DESC) AS rk
        FROM daily
    ),
    scored AS (
        SELECT a.event_type, a.day, a.x AS actual, b.x AS forecast
        FROM ranked a
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.day = a.day - INTERVAL '{_SEASON} days'
        WHERE a.rk <= {_HOLDOUT}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS abs_err_total,
           CAST(SUM(actual) AS BIGINT) AS actual_total
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    doc="Seasonal-naive forecasting baseline (forecast(day) = "
    f"actual(day - {_SEASON}d)) scored on the last {_HOLDOUT} days "
    "per event type — the baseline every real volume forecast must "
    "beat, and the shape capacity planning runs daily over event "
    "firehoses. One daily pre-aggregate (the only full-data "
    "shuffle), one self-join on (type, day-7) over the tiny day "
    "domain, integer absolute errors — engine-exact. At 100 TB the "
    "daily aggregate is the standing materialization (q75's "
    "incremental maintenance keeps it current) and the scoring join "
    "never touches raw events.",
)
def q279_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy(F.col("day").desc())
    recent = daily.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _HOLDOUT
    )
    base = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("x").alias("forecast"),
    )
    scored = recent.join(
        base,
        (F.col("event_type") == F.col("b_type"))
        & (F.col("b_day") == F.date_sub(F.col("day"), _SEASON)),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.abs(F.col("x") - F.col("forecast")))
            .cast("bigint")
            .alias("abs_err_total"),
            F.sum("x").cast("bigint").alias("actual_total"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- q280
_HOPS = 3
_SEED_MOD = 500  # seed nodes: customers with custkey % _SEED_MOD = 0


@register(
    "q280_khop_reachability",
    f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS src,
               o_custkey * 7 % 1000 AS dst
        FROM orders WHERE o_custkey < 1000
    ),
    seeds AS (
        SELECT DISTINCT src AS node FROM edges
        WHERE src % {_SEED_MOD} = 0
    ),
    h1 AS (
        SELECT DISTINCT e.dst AS node FROM seeds s
        JOIN edges e ON e.src = s.node
    ),
    r1 AS (SELECT node FROM seeds UNION SELECT node FROM h1),
    h2 AS (
        SELECT DISTINCT e.dst AS node FROM r1
        JOIN edges e ON e.src = r1.node
    ),
    r2 AS (SELECT node FROM r1 UNION SELECT node FROM h2),
    h3 AS (
        SELECT DISTINCT e.dst AS node FROM r2
        JOIN edges e ON e.src = r2.node
    ),
    r3 AS (SELECT node FROM r2 UNION SELECT node FROM h3)
    SELECT CAST((SELECT COUNT(*) FROM seeds) AS BIGINT) AS n_seeds,
           CAST((SELECT COUNT(*) FROM r1) AS BIGINT) AS reach_1,
           CAST((SELECT COUNT(*) FROM r2) AS BIGINT) AS reach_2,
           CAST((SELECT COUNT(*) FROM r3) AS BIGINT) AS reach_3
    """,
    doc=f"Bounded k-hop reachability (k={_HOPS}) over a synthetic "
    "customer graph (edges src -> src*7 mod 1000, the deterministic "
    "graph the fixtures support) from a seed set — the neighborhood-"
    "expansion primitive behind fraud rings, abuse clusters, and "
    "citation spheres; complements q117 PageRank (global scores), "
    "q72 components (full closure), and triangle counting (local "
    "density). Frontier-style: each hop is one distinct-join of the "
    "REACHED set against the edge table (the reached set stays the "
    "small side and broadcasts; the edge table never re-shuffles), "
    "and k bounds the iteration exactly like q117's fixed rounds. "
    "The oracle unrolls the same {_HOPS} hops as chained CTEs. "
    "Per-hop reach counts are pinned, so both the frontier logic "
    "and the dedup-per-hop are value-checked.",
)
def q280_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 1000)
    # The edge set is probed by every hop's frontier join AND each
    # hop's count action re-executes it from lineage: pin it once
    # (the frontier itself is already checkpointed per hop).
    edges = pin(
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_custkey") * 7 % 1000).alias("dst"),
        ).distinct()
    )
    reached = (
        edges.filter(F.col("src") % _SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    n_seeds = reached.count()  # scalar bound, tiny
    counts = []
    for _ in range(_HOPS):
        frontier = (
            F.broadcast(reached)
            .join(edges, reached["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
        )
        reached = pin(reached.unionByName(frontier).distinct())
        counts.append(reached.count())
    from python_tool_setup_spark.staging import local_rows_df

    return local_rows_df(
        spark,
        [(n_seeds, counts[0], counts[1], counts[2])],
        "n_seeds long, reach_1 long, reach_2 long, reach_3 long",
    )
