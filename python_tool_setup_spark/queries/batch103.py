"""Round-5 gates, batch 103: time-to-convert percentiles (q411 —
seconds from a user's first 'view' to their first 'purchase' AFTER
it: the latency distribution behind every funnel, which q93/q331
count but never clock), Neyman sampling allocation (q412 — the
variance-optimal per-stratum sample-size split n_h ~ N_h*sd_h for
a fixed labeling/audit budget: how a data-curation team should
spend 10k human labels across order priorities), and embedding
centroid drift (q413 — per-label cosine and L2 shift between the
old and new data halves' centroids: the embedding-space monitoring
gate that catches a silent encoder or distribution change before
the ANN index (q41/q42) quietly degrades).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_BUDGET = 10_000


# ---------------------------------------------------------------- q411
@register(
    "q411_time_to_convert",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN epoch_ms(ts) END) AS first_view_ms
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT f.user_id,
               (MIN(epoch_ms(e.ts)) - f.first_view_ms) // 1000 AS lat_s
        FROM firsts f
        JOIN events e ON e.user_id = f.user_id
         AND e.event_type = 'purchase'
         AND epoch_ms(e.ts) >= f.first_view_ms
        WHERE f.first_view_ms IS NOT NULL
        GROUP BY f.user_id, f.first_view_ms
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(ROUND(quantile_cont(lat_s, 5e-1), 4) AS DOUBLE) AS p50_s,
           CAST(ROUND(quantile_cont(lat_s, 9e-1), 4) AS DOUBLE) AS p90_s,
           CAST(MAX(lat_s) AS BIGINT) AS max_s
    FROM conv
    """,
    doc="Time-to-convert distribution (seconds from each user's "
    "FIRST view to their first purchase at-or-after it — the "
    "latency behind the funnel; q93/q331 count conversions, "
    "this gate clocks them, the number an SLA or a retargeting "
    "window is actually set from): first-view via conditional "
    "min per user, first qualifying purchase via a filtered "
    "re-join + min (no window at all), exact p50/p90 and the "
    "max (the p = 1 order statistic) from the shared "
    "histogram-percentile operator with no groups (quantile_cont "
    "semantics, no global sort). Latencies "
    "are integer seconds so the percentile interpolation is "
    "engine-exact under ROUND(4). Scale: two user-key "
    "aggregates and one user-key join.",
)
def q411_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    e = load_table(spark, sf_dir, "events")
    firsts = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "view", F.unix_millis("ts")
                )
            ).alias("first_view_ms")
        )
        .where(F.col("first_view_ms").isNotNull())
    )
    conv = (
        firsts.join(
            e.where(F.col("event_type") == "purchase").select(
                "user_id", F.unix_millis("ts").alias("p_ms")
            ),
            "user_id",
        )
        .where(F.col("p_ms") >= F.col("first_view_ms"))
        .groupBy("user_id", "first_view_ms")
        .agg(
            F.floor(
                (F.min("p_ms") - F.col("first_view_ms")) / 1000
            ).alias("lat_s")
        )
    )
    # exact interpolated percentiles from the latency histogram; the
    # max is the p = 1 order statistic
    stat = grouped_exact_percentiles(
        conv, [], "lat_s", {"p50": 0.5, "p90": 0.9, "mx": 1.0}
    )
    return stat.select(
        F.col("n").cast("long").alias("n_converted"),
        F.round("p50", 4).cast("double").alias("p50_s"),
        F.round("p90", 4).cast("double").alias("p90_s"),
        F.col("mx").cast("long").alias("max_s"),
    )


# ---------------------------------------------------------------- q412
@register(
    "q412_neyman_allocation",
    f"""
    WITH strata AS (
        SELECT o_orderpriority,
               COUNT(*) AS nh,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS s,
               SUM(CAST(CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   AS HUGEINT)
                   * CAST(ROUND(100 * o_totalprice) AS BIGINT)) AS ss
        FROM orders GROUP BY o_orderpriority
    ),
    scored AS (
        SELECT o_orderpriority, nh,
               nh * sqrt(CAST(ss AS DOUBLE) / nh
                         - (CAST(s AS DOUBLE) / nh)
                           * (CAST(s AS DOUBLE) / nh)) AS w
        FROM strata
    ),
    tot AS (SELECT SUM(w) AS tw FROM scored)
    SELECT o_orderpriority,
           CAST(nh AS BIGINT) AS stratum_size,
           CAST(ROUND(1e6 * w / (SELECT tw FROM tot)) AS BIGINT)
               AS alloc_share_micro,
           CAST(ROUND({_BUDGET} * w / (SELECT tw FROM tot)) AS BIGINT)
               AS alloc_n
    FROM scored ORDER BY o_orderpriority
    """,
    doc="Neyman (variance-optimal) sampling allocation of a fixed "
    f"{_BUDGET}-unit audit/labeling budget across order-priority "
    "strata (n_h proportional to N_h * sd_h — the stratified "
    "design that minimizes estimator variance; q68 DRAWS a "
    "stratified sample, q383 audits one, this gate decides how "
    "big each stratum's sample SHOULD be): per-stratum count + "
    "exact integer cent moments (HUGEINT/DECIMAL squares, cast "
    "before multiply), population sd via the one-pass identity, "
    "shares as micro ratios of the weight totals. Scale: one "
    "scan to |strata| rows of metadata.",
)
def q412_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    strata = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("nh"),
        F.sum(cents_col).alias("s"),
        F.sum(cents_col.cast("decimal(38,0)") * cents_col).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("nh")
    var = F.col("ss").cast("double") / F.col("nh") - mean * mean
    scored = strata.select(
        "o_orderpriority",
        "nh",
        (F.col("nh") * F.sqrt(var)).alias("w"),
    )
    tot = scored.agg(F.sum("w").alias("tw"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            F.col("nh").cast("long").alias("stratum_size"),
            F.round(F.lit(1e6) * F.col("w") / F.col("tw"))
            .cast("long")
            .alias("alloc_share_micro"),
            F.round(F.lit(float(_BUDGET)) * F.col("w") / F.col("tw"))
            .cast("long")
            .alias("alloc_n"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- q413
@register(
    "q413_embedding_centroid_drift",
    """
    WITH dims AS (
        SELECT label, i, vec_id % 2 = 1 AS is_new,
               SUM(CAST(ROUND(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS s,
               COUNT(*) AS n
        FROM (
            SELECT vec_id, label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        )
        GROUP BY label, i, vec_id % 2 = 1
    ),
    halves AS (
        SELECT o.label, o.i,
               o.s AS s_old, o.n AS n_old, nw.s AS s_new, nw.n AS n_new,
               CAST(ROUND(CAST(o.s AS DOUBLE) / o.n) AS BIGINT)
                   - CAST(ROUND(CAST(nw.s AS DOUBLE) / nw.n) AS BIGINT)
                   AS dmean
        FROM dims o JOIN dims nw
          ON nw.label = o.label AND nw.i = o.i
         AND o.is_new = FALSE AND nw.is_new = TRUE
    )
    SELECT label,
           CAST(MAX(n_old) AS BIGINT) AS n_old,
           CAST(MAX(n_new) AS BIGINT) AS n_new,
           CAST(ROUND(SUM(CAST(s_old AS HUGEINT) * s_new)
               / (sqrt(CAST(SUM(CAST(s_old AS HUGEINT) * s_old) AS DOUBLE))
                  * sqrt(CAST(SUM(CAST(s_new AS HUGEINT) * s_new)
                         AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS cos_micro,
           CAST(ROUND(sqrt(CAST(SUM(CAST(dmean AS HUGEINT) * dmean)
               AS DOUBLE))) AS BIGINT) AS shift_l2_micro
    FROM halves GROUP BY label ORDER BY label
    """,
    doc="Per-label embedding centroid drift between the old "
    "(vec_id even) and new (vec_id odd) data halves — cosine of "
    "the two half-centroids plus the L2 mean-shift in micro "
    "units (the embedding-space monitor that catches a silent "
    "encoder swap or upstream distribution change BEFORE the "
    "ANN index (q41/q42) and SemDeDup cells (q163) quietly "
    "degrade; q338 measures between-LABEL geometry, this "
    "measures between-TIME geometry per label): q338's FP "
    "posture — every float element micro-quantized before "
    "accumulation, centroid cosine from the integer half-sum "
    "vectors (scaling cancels), per-dim mean DIFFERENCES "
    "rounded to integer micro before the exact HUGEINT/DECIMAL "
    "square-sum. Scale: one scan to |labels| x dims x 2 cells; "
    "drift math on metadata.",
)
def q413_embedding_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            "label",
            (F.col("vec_id") % 2 == 1).alias("is_new"),
            F.posexplode("embedding").alias("i0", "e"),
        )
        .select(
            "label",
            "is_new",
            (F.col("i0") + 1).alias("i"),
            F.round(F.col("e").cast("double") * F.lit(1000000.0))
            .cast("long")
            .alias("q"),
        )
        .groupBy("label", "i", "is_new")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    )
    old = dims.where(~F.col("is_new")).select(
        "label", "i", F.col("s").alias("s_old"), F.col("n").alias("n_old")
    )
    new = dims.where(F.col("is_new")).select(
        "label", "i", F.col("s").alias("s_new"), F.col("n").alias("n_new")
    )
    dec = "decimal(38,0)"
    halves = old.join(new, ["label", "i"]).select(
        "label",
        "n_old",
        "n_new",
        F.col("s_old").cast(dec).alias("s_old"),
        F.col("s_new").cast(dec).alias("s_new"),
        (
            F.round(F.col("s_old").cast("double") / F.col("n_old")).cast(
                "long"
            )
            - F.round(F.col("s_new").cast("double") / F.col("n_new")).cast(
                "long"
            )
        )
        .cast(dec)
        .alias("dmean"),
    )
    dot = F.sum(F.col("s_old") * F.col("s_new")).cast("double")
    na = F.sqrt(F.sum(F.col("s_old") * F.col("s_old")).cast("double"))
    nb = F.sqrt(F.sum(F.col("s_new") * F.col("s_new")).cast("double"))
    return (
        halves.groupBy("label")
        .agg(
            F.max("n_old").cast("long").alias("n_old"),
            F.max("n_new").cast("long").alias("n_new"),
            F.round(dot / (na * nb) * F.lit(1000000.0))
            .cast("long")
            .alias("cos_micro"),
            F.round(
                F.sqrt(
                    F.sum(F.col("dmean") * F.col("dmean")).cast("double")
                )
            )
            .cast("long")
            .alias("shift_l2_micro"),
        )
        .orderBy("label")
    )
