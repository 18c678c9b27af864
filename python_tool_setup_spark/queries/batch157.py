"""Round-5 gates, batch 157: per-user rate-limit audit (q525 — the
abuse/ops screen: bucket events into (user, minute) windows, count
windows exceeding the rate limit, the worst burst, and the share
of users ever bursting — the measured input to choosing a limiter
threshold, distinct from q386's GLOBAL peak concurrency) and Qini
curve (q526 — the uplift-targeting evaluation: order customers by
a targeting score, and at each decile compare treated vs control
positive rates scaled to the treated volume; the Qini gap at depth
d is the incremental conversions targeting the top d-fraction
would have bought — the decision curve q320's single-arm lift
can't express).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_RATE_LIMIT = 3  # events per user-minute


@register(
    "q525_rate_limit_audit",
    f"""
    WITH w AS (
        SELECT user_id,
               CAST(FLOOR(EPOCH_MS(ts) / 60000.0) AS BIGINT)
                   AS minute_bucket,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id, MAX(c) AS burst,
               SUM(CASE WHEN c > {_RATE_LIMIT} THEN 1 ELSE 0 END)
                   AS n_violations
        FROM w GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_violations) AS BIGINT) AS n_violation_windows,
           CAST(MAX(burst) AS BIGINT) AS max_burst,
           CAST(SUM(CASE WHEN n_violations > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_bursting_users,
           CAST(ROUND(SUM(CASE WHEN n_violations > 0 THEN 1 ELSE 0
               END) * 1000000.0 / COUNT(*)) AS BIGINT)
               AS bursting_user_ppm
    FROM per_user
    """,
    doc="Per-user rate-limit audit (abuse/ops screen: (user, "
    "minute) windows over the event stream, windows exceeding "
    "the limit, the single worst burst, and the share of users "
    "ever bursting — the measured input to choosing a limiter "
    "threshold; q386 measures GLOBAL peak concurrency, this "
    "measures per-principal behavior): one (user, minute) "
    "groupBy (map-side combined — the window key is derived "
    "arithmetic on epoch millis, no session state), one user "
    "rollup, one report row. Scale: two shuffles bounded by "
    "(user, active-minute) cardinality.",
)
def q525_rate_limit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = e.groupBy(
        "user_id",
        F.floor(F.unix_millis("ts") / 60000.0)
        .cast("long")
        .alias("minute_bucket"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per_user = w.groupBy("user_id").agg(
        F.max("c").alias("burst"),
        F.sum((F.col("c") > _RATE_LIMIT).cast("long")).alias(
            "n_violations"
        ),
    )
    bursting = F.sum((F.col("n_violations") > 0).cast("long"))
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_violations").cast("long").alias(
            "n_violation_windows"
        ),
        F.max("burst").cast("long").alias("max_burst"),
        bursting.cast("long").alias("n_bursting_users"),
        F.round(bursting * 1000000.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("bursting_user_ppm"),
    )


# ---------------------------------------------------------------- q526
_QINI_CUTOFF = "1998-01-01"
_QINI_BUCKETS = 10


@register(
    "q526_qini_curve",
    f"""
    WITH outcome AS (
        SELECT c.c_custkey,
               c.c_custkey % 2 = 0 AS treat,
               CAST(ROUND(100 * c.c_acctbal) AS BIGINT) AS score,
               MAX(CASE WHEN o.o_orderdate >= DATE '{_QINI_CUTOFF}'
                   THEN 1 ELSE 0 END) AS pos
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, 2, 3
    ),
    bounds AS (
        SELECT MIN(score) AS mn, MAX(score) AS mx FROM outcome
    ),
    bucketed AS (
        -- score deciles by equal-width band (deterministic, no rank)
        SELECT treat, pos,
               LEAST({_QINI_BUCKETS} - 1,
                     CAST(FLOOR((b.mx - score) * {_QINI_BUCKETS}
                          * 1.0 / GREATEST(b.mx - b.mn, 1))
                          AS BIGINT)) AS bkt
        FROM outcome CROSS JOIN bounds b
    ),
    byb AS (
        SELECT bkt,
               SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS nt,
               SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS nc,
               SUM(CASE WHEN treat THEN pos ELSE 0 END) AS pt,
               SUM(CASE WHEN NOT treat THEN pos ELSE 0 END) AS pc
        FROM bucketed GROUP BY bkt
    ),
    cum AS (
        SELECT bkt,
               SUM(nt) OVER (ORDER BY bkt) AS cnt,
               SUM(nc) OVER (ORDER BY bkt) AS cnc,
               SUM(pt) OVER (ORDER BY bkt) AS cpt,
               SUM(pc) OVER (ORDER BY bkt) AS cpc
        FROM byb
    )
    SELECT CAST(bkt AS BIGINT) AS score_band,
           CAST(cnt AS BIGINT) AS cum_treated,
           CAST(cnc AS BIGINT) AS cum_control,
           CAST(cpt AS BIGINT) AS cum_pos_treated,
           CAST(cpc AS BIGINT) AS cum_pos_control,
           CAST(ROUND(cpt - CAST(cpc AS DOUBLE) * cnt / cnc)
               AS BIGINT) AS qini_incremental,
           CAST(ROUND((CAST(cpt AS DOUBLE) / cnt
               - CAST(cpc AS DOUBLE) / cnc) * 1000000) AS BIGINT)
               AS uplift_ppm
    FROM cum ORDER BY score_band
    """,
    doc="Qini curve (uplift-targeting evaluation: order customers "
    "by a targeting score — balance here — and at each cumulative "
    "score band compare treated vs control positive rates scaled "
    "to treated volume: qini(d) = cum_pos_t - cum_pos_c * "
    "(cum_n_t/cum_n_c), the incremental conversions targeting "
    "the top band would have bought; q320's single-arm lift "
    "can't express the two-arm decision): outcomes from one "
    "left-join aggregate (any post-cutoff order = positive), "
    "deterministic equal-width score bands (no rank machinery "
    "needed at band granularity), per-band 2x2 counts, cumulative "
    "sums over the 10-row band domain. A/A parity arms: the "
    "measured qini stays near zero — the null calibration. Scale: "
    "one join-aggregate + band-domain metadata.",
)
def q526_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    outcome = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            "c_custkey",
            (F.col("c_custkey") % 2 == 0).alias("treat"),
            cents(F.col("c_acctbal")).alias("score"),
        )
        .agg(
            F.max(
                F.when(
                    F.col("o_orderdate") >= F.lit(_QINI_CUTOFF), 1
                ).otherwise(0)
            ).alias("pos")
        )
    )
    bounds = outcome.agg(
        F.min("score").alias("mn"), F.max("score").alias("mx")
    )
    bucketed = outcome.crossJoin(F.broadcast(bounds)).select(
        "treat",
        "pos",
        F.least(
            F.lit(_QINI_BUCKETS - 1),
            F.floor(
                (F.col("mx") - F.col("score"))
                * _QINI_BUCKETS
                * 1.0
                / F.greatest(F.col("mx") - F.col("mn"), F.lit(1))
            ),
        )
        .cast("long")
        .alias("bkt"),
    )
    byb = bucketed.groupBy("bkt").agg(
        F.sum(F.col("treat").cast("long")).alias("nt"),
        F.sum((~F.col("treat")).cast("long")).alias("nc"),
        F.sum(F.when(F.col("treat"), F.col("pos")).otherwise(0)).alias(
            "pt"
        ),
        F.sum(
            F.when(~F.col("treat"), F.col("pos")).otherwise(0)
        ).alias("pc"),
    )
    # bounded-domain: bkt is a fixed score-bucket index (config-
    # bounded, not data-bounded)
    wc = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byb.select(
        "bkt",
        F.sum("nt").over(wc).alias("cnt"),
        F.sum("nc").over(wc).alias("cnc"),
        F.sum("pt").over(wc).alias("cpt"),
        F.sum("pc").over(wc).alias("cpc"),
    )
    return cum.select(
        F.col("bkt").cast("long").alias("score_band"),
        F.col("cnt").cast("long").alias("cum_treated"),
        F.col("cnc").cast("long").alias("cum_control"),
        F.col("cpt").cast("long").alias("cum_pos_treated"),
        F.col("cpc").cast("long").alias("cum_pos_control"),
        F.round(
            F.col("cpt")
            - F.col("cpc").cast("double") * F.col("cnt") / F.col("cnc")
        )
        .cast("long")
        .alias("qini_incremental"),
        F.round(
            (
                F.col("cpt").cast("double") / F.col("cnt")
                - F.col("cpc").cast("double") / F.col("cnc")
            )
            * 1000000
        )
        .cast("long")
        .alias("uplift_ppm"),
    ).orderBy("score_band")
