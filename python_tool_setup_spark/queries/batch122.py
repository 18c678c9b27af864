"""Round-5 gates, batch 122: Ljung-Box whiteness test (q454 — the
portmanteau Q statistic over lag-1..7 autocorrelations of the
daily volume series: the white-noise test that q279's seasonal
naive, q336's backtest and q380's anomaly baseline all silently
assume holds for their residuals) and backfill range planning
(q455 — the contiguous missing-day runs of each stream's date
spine as ready-to-run backfill jobs: q345 finds the gap DAYS,
this emits the gap RANGES an orchestrator actually schedules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_MAX_LAG = 7


# ---------------------------------------------------------------- q454
@register(
    "q454_ljung_box_whiteness",
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS t,
               COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    st AS (SELECT COUNT(*) AS n, SUM(x) AS sx FROM daily),
    centered AS (
        SELECT d.t,
               CAST(st.n AS HUGEINT) * d.x - st.sx AS c
        FROM daily d, st
    ),
    c0 AS (SELECT SUM(c * c) AS den FROM centered),
    lags AS (
        SELECT k.k,
               CAST(ROUND(1e9 * SUM(a.c * b.c)
                   / (SELECT den FROM c0)) AS BIGINT) AS r_nano
        FROM (SELECT * FROM generate_series(1, {_MAX_LAG}) AS g(k)) k
        JOIN centered a ON TRUE
        JOIN centered b ON b.t = a.t + k.k
        GROUP BY k.k
    ),
    q AS (
        SELECT SUM(CAST(ROUND(1e6 * (r_nano / 1e9) * (r_nano / 1e9)
                   / ((SELECT n FROM st) - k)) AS BIGINT)) AS tsum
        FROM lags
    )
    SELECT CAST((SELECT n FROM st) AS BIGINT) AS n_days,
           CAST({_MAX_LAG} AS BIGINT) AS max_lag,
           CAST((SELECT tsum FROM q) AS BIGINT) AS term_sum_micro,
           CAST(ROUND((SELECT n FROM st)
               * ((SELECT n FROM st) + 2e0)
               * (SELECT tsum FROM q) / 1e3) AS BIGINT) AS lb_q_milli
    FROM (SELECT 1)
    """,
    doc="Ljung-Box portmanteau whiteness test on the daily volume "
    "series (Q = n(n+2) * sum_k r_k^2/(n-k) over lags 1..7 — "
    "against chi-square(7), Q >> 14 says the series is NOT "
    "white noise; the assumption-check behind q279's naive "
    "forecast, q336's backtest residuals and q380's rolling "
    "baseline): autocorrelations from EXACT integer centered "
    "products ((n*x_t - S)(n*x_t+k - S) in HUGEINT — the n^2 "
    "scaling cancels in the ratio), each r_k nano-quantized, "
    "each Q term micro-quantized before the integer sum, so "
    "both engines assemble identical integers until the final "
    "scale. Scale: the day series is metadata; lag joins are "
    "|days| x 7.",
)
def q454_ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
        ).alias("t")
    ).agg(F.count("*").alias("x"))
    dec = "decimal(38,0)"
    # n and sx as global window sums over the O(days) daily table (no
    # second daily instantiation), then pin: c0 and both lag sides
    # re-reference centered, and unpinned each re-ran the events scan
    # + groupBy (14 Exchange / 7 scans in the r10-before plan).
    # bounded-domain: daily table: one row per event day
    wall = Window.partitionBy(F.lit(1))
    centered = pin(
        daily.select(
            "t",
            "x",
            F.count("*").over(wall).alias("n"),
            F.sum("x").over(wall).alias("sx"),
        ).select(
            "t",
            (F.col("n").cast(dec) * F.col("x") - F.col("sx")).alias("c"),
            "n",
        )
    )
    st = centered.agg(F.max("n").alias("n"))  # scalar n off the pin
    c0 = centered.agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    ks = spark.range(1, _MAX_LAG + 1).select(F.col("id").alias("k"))
    a = centered.select("t", F.col("c").alias("ca"))
    b = centered.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    lags = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("tb") == F.col("t") + F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("num"))
        .crossJoin(F.broadcast(c0))
        .select(
            "k",
            F.round(
                F.lit(1e9) * F.col("num").cast("double")
                / F.col("den").cast("double")
            )
            .cast("long")
            .alias("r_nano"),
        )
    )
    terms = lags.crossJoin(F.broadcast(st)).select(
        F.round(
            F.lit(1e6)
            * (F.col("r_nano") / F.lit(1e9))
            * (F.col("r_nano") / F.lit(1e9))
            / (F.col("n") - F.col("k"))
        )
        .cast("long")
        .alias("tm"),
        "n",
    )
    q = terms.groupBy("n").agg(F.sum("tm").alias("tsum"))
    return q.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(_MAX_LAG).cast("long").alias("max_lag"),
        F.col("tsum").cast("long").alias("term_sum_micro"),
        F.round(
            F.col("n") * (F.col("n") + F.lit(2.0)) * F.col("tsum") / F.lit(1e3)
        )
        .cast("long")
        .alias("lb_q_milli"),
    )


# ---------------------------------------------------------------- q455
@register(
    "q455_backfill_ranges",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS t,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, t, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n, t) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS days
        FROM daily
    ),
    thr AS (
        SELECT event_type,
               MAX(CASE WHEN rk = days // 10 + 1 THEN n END) AS thr_n
        FROM ranked GROUP BY event_type
    ),
    low AS (
        SELECT d.event_type, d.t
        FROM daily d JOIN thr ON thr.event_type = d.event_type
        WHERE d.n <= thr.thr_n
    ),
    islands AS (
        SELECT event_type, t,
               t - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t)
                   AS grp
        FROM low
    )
    SELECT event_type,
           CAST(MIN(t) AS BIGINT) AS run_start_day,
           CAST(MAX(t) AS BIGINT) AS run_end_day,
           CAST(COUNT(*) AS BIGINT) AS run_days
    FROM islands GROUP BY event_type, grp
    ORDER BY event_type, run_start_day
    """,
    doc="Backfill/investigation range planning via gaps-and-islands "
    "(each stream's LOW-VOLUME days — at or below its own decile "
    "order statistic, an integer threshold so the flag is "
    "engine-exact — coalesced into contiguous (start, end, "
    "length) runs: the JOBS an orchestrator schedules to "
    "re-ingest or investigate; q345 finds absent days, this "
    "finds present-but-degraded runs, and the same island key "
    "t - row_number() handles both): per-stream partitioned "
    "rank picks the threshold, islands are per-stream "
    "partitioned windows. Scale: day-domain metadata after one "
    "scan.",
)
def q455_backfill_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
        ).alias("t"),
    ).agg(F.count("*").alias("n"))
    wr = Window.partitionBy("event_type").orderBy("n", "t")
    wc = Window.partitionBy("event_type")
    ranked = daily.withColumn("rk", F.row_number().over(wr)).withColumn(
        "days", F.count("*").over(wc)
    )
    thr = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rk") == F.floor(F.col("days") / 10) + 1, F.col("n")
            )
        ).alias("thr_n")
    )
    low = daily.join(thr, "event_type").where(
        F.col("n") <= F.col("thr_n")
    )
    wi = Window.partitionBy("event_type").orderBy("t")
    islands = low.withColumn("grp", F.col("t") - F.row_number().over(wi))
    return (
        islands.groupBy("event_type", "grp")
        .agg(
            F.min("t").cast("long").alias("run_start_day"),
            F.max("t").cast("long").alias("run_end_day"),
            F.count("*").cast("long").alias("run_days"),
        )
        .drop("grp")
        .orderBy("event_type", "run_start_day")
    )
