"""Round-5 gates, batch 143: split-conformal calibration (q497 —
the distribution-free prediction interval every ML serving layer
should ship with its point predictions: fit a predictor on the
calibration split (here the per-segment mean), take the 90%
quantile of absolute residuals as the interval half-width, then
measure EMPIRICAL coverage on the held-out split — the guarantee
is assumption-free, and the gate checks it holds) and sliding
7-day active users (q498 — WAU is a distinct-union, not a sum:
per-day actives can't be added across the window, so the exact
rolling count explodes each (user, day) pair to the <=7 windows it
participates in and re-counts distinct per target day — the
bounded-fanout shape that replaces buffering a week of raw
events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles_frac,
)
from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_COVER_MIN_PPM = 880_000  # empirical coverage must stay near 90%


@register(
    "q497_conformal_calibration",
    f"""
    WITH base AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents,
               o.o_custkey % 2 = 0 AS is_cal
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    pred AS (
        SELECT seg,
               CAST(ROUND(SUM(cents) * 1.0 / COUNT(*)) AS BIGINT)
                   AS mean_cents,
               COUNT(*) AS n_cal
        FROM base WHERE is_cal GROUP BY seg
    ),
    resid AS (
        SELECT b.seg, ABS(b.cents - p.mean_cents) AS r
        FROM base b JOIN pred p ON p.seg = b.seg
        WHERE b.is_cal
    ),
    ordr AS (
        SELECT seg, r,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY r) - 1 AS rk,
               COUNT(*) OVER (PARTITION BY seg) AS n
        FROM resid
    ),
    wsel AS (
        SELECT seg, MAX(n) AS n,
               MAX(CASE WHEN rk = ((n - 1) * 9) // 10 THEN r END) AS lo,
               MAX(CASE WHEN rk = LEAST(n - 1, ((n - 1) * 9) // 10 + 1)
                   THEN r END) AS hi
        FROM ordr GROUP BY seg
    ),
    width AS (
        -- exact-rational q90 over integer cents (the q524 class:
        -- 10*quantile = lo*(10-r) + hi*r can land exactly on X.5, and
        -- a 1-cent width flip changes the coverage COUNT); half-up =
        -- (num + 5) // 10, order-free on both engines
        SELECT seg,
               CAST((lo * (10 - ((n - 1) * 9) % 10)
                     + hi * (((n - 1) * 9) % 10) + 5) // 10
                   AS BIGINT) AS w
        FROM wsel
    ),
    test AS (
        SELECT b.seg,
               COUNT(*) AS n_test,
               SUM(CASE WHEN ABS(b.cents - p.mean_cents) <= w.w
                        THEN 1 ELSE 0 END) AS n_covered
        FROM base b
        JOIN pred p ON p.seg = b.seg
        JOIN width w ON w.seg = b.seg
        WHERE NOT b.is_cal
        GROUP BY b.seg
    )
    SELECT p.seg,
           CAST(p.n_cal AS BIGINT) AS n_cal,
           CAST(t.n_test AS BIGINT) AS n_test,
           p.mean_cents AS pred_mean_cents,
           w.w AS q90_halfwidth_cents,
           CAST(ROUND(t.n_covered * 1000000.0 / t.n_test) AS BIGINT)
               AS coverage_ppm,
           ROUND(t.n_covered * 1000000.0 / t.n_test)
               >= {_COVER_MIN_PPM} AS coverage_holds
    FROM pred p JOIN width w ON w.seg = p.seg
    JOIN test t ON t.seg = p.seg
    ORDER BY p.seg
    """,
    doc="Split-conformal calibration (distribution-free prediction "
    "intervals: fit on the calibration split — here the "
    "per-segment mean in exact cents — take the 90% quantile of "
    "absolute calibration residuals as the interval half-width, "
    "then verify EMPIRICAL coverage on the held-out split; the "
    "conformal guarantee needs no distributional assumptions and "
    "the gate checks it actually holds): deterministic parity "
    "split on the customer key, residual quantile via the "
    "value-domain histogram operator (quantile_cont semantics, "
    "q47's scale shape — no per-group row buffer), coverage "
    "decided by integer comparison |cents - mean| <= width. "
    "Scale: two scans (calibration stats, test coverage) + "
    "segment-domain metadata; the 5-row prediction table "
    "broadcasts.",
)
def q497_conformal_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(F.broadcast(c), c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        cents(F.col("o_totalprice")).alias("cents"),
        (F.col("o_custkey") % 2 == 0).alias("is_cal"),
    )
    # Pin the labeled base: the calibration/test split is two passes
    # by construction, and unpinned each pass re-ran the
    # customer-orders join (10 Exchange / 14 scans in the r10-before
    # plan). pred and width are ≤|segments| rows but their
    # aggregation machinery is the expensive part — pin those too.
    base = pin(base)
    cal = base.filter("is_cal")
    pred = pin(
        cal.groupBy("seg").agg(
            F.round(F.sum("cents") * 1.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_cents"),
            F.count(F.lit(1)).alias("n_cal"),
        )
    )
    resid = cal.join(F.broadcast(pred), "seg").select(
        "seg", F.abs(F.col("cents") - F.col("mean_cents")).alias("r")
    )
    # exact-rational q90: see the oracle comment
    width = pin(
        grouped_exact_percentiles_frac(
            resid, ["seg"], "r", {"p": (9, 10)}
        ).select(
            "seg",
            F.floor((F.col("p_num") + 5) / 10).cast("long").alias("w"),
        )
    )
    test = (
        base.filter(~F.col("is_cal"))
        .join(F.broadcast(pred), "seg")
        .join(F.broadcast(width), "seg")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("cents") - F.col("mean_cents"))
                    <= F.col("w")
                ).cast("long")
            ).alias("n_covered"),
        )
    )
    cov = F.round(F.col("n_covered") * 1000000.0 / F.col("n_test"))
    return (
        pred.join(width, "seg")
        .join(test, "seg")
        .select(
            "seg",
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("mean_cents").alias("pred_mean_cents"),
            F.col("w").alias("q90_halfwidth_cents"),
            cov.cast("long").alias("coverage_ppm"),
            (cov >= _COVER_MIN_PPM).alias("coverage_holds"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------- q498
_WAU_DAYS = 7


@register(
    "q498_sliding_wau",
    f"""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    daydom AS (SELECT DISTINCT d FROM pairs),
    contrib AS (
        SELECT p.user_id, p.d + CAST(o.off AS INT) AS tgt
        FROM pairs p CROSS JOIN (
            SELECT UNNEST(RANGE(0, {_WAU_DAYS})) AS off
        ) o
    ),
    wau AS (
        SELECT c.tgt AS d, COUNT(DISTINCT c.user_id) AS wau
        FROM contrib c JOIN daydom t ON t.d = c.tgt
        GROUP BY 1
    ),
    dau AS (
        SELECT d, COUNT(DISTINCT user_id) AS dau FROM pairs GROUP BY d
    )
    SELECT CAST(w.d AS DATE) AS d,
           CAST(a.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(ROUND(a.dau * 1000000.0 / w.wau) AS BIGINT)
               AS stickiness_ppm
    FROM wau w JOIN dau a ON a.d = w.d
    ORDER BY d
    """,
    doc="Sliding 7-day active users (WAU is a distinct-UNION, not "
    "a sum — per-day actives cannot be added across the window, "
    "so the exact rolling count explodes each distinct (user, "
    "day) pair to the <=7 target days whose trailing window it "
    "participates in and re-counts distinct users per target "
    "day): the (user, day) dedup is one map-side-combined "
    "distinct; the 7-way fanout is a broadcast cross join of a "
    "constant spine (bounded state, no week-of-raw-events "
    "buffer); target days restricted to the observed day domain; "
    "DAU/WAU stickiness ppm-rounded from exact counts. Scale: "
    "fanout is exactly 7x the distinct-pair table regardless of "
    "event volume; the distinct per target day shuffles on (day, "
    "user) with partial dedup map-side.",
)
def q498_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pairs = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    daydom = pairs.select("d").distinct()
    off = spark.range(0, _WAU_DAYS).select(
        F.col("id").cast("int").alias("off")
    )
    contrib = pairs.crossJoin(F.broadcast(off)).select(
        "user_id", F.date_add("d", F.col("off")).alias("tgt")
    )
    wau = (
        contrib.join(
            F.broadcast(daydom), contrib.tgt == daydom.d, "left_semi"
        )
        .groupBy(F.col("tgt").alias("d"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = pairs.groupBy("d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    return (
        wau.join(dau, "d")
        .select(
            F.col("d").cast("date").alias("d"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau") * 1000000.0 / F.col("wau"))
            .cast("long")
            .alias("stickiness_ppm"),
        )
        .orderBy("d")
    )
