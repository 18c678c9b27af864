"""Round-5 gates, batch 102: event trigram mining (q408 — the
top-10 three-step behavior patterns in per-user event streams: the
sequence motifs a product funnel review starts from, one Markov
order above q400's transition entropy), a near-duplicate
precision/recall curve (q409 — the k=16 MinHash estimate used as a
CLASSIFIER of true Jaccard >= 0.5 at a sweep of thresholds: the
operating-characteristic table that justifies where q36's LSH
banding puts its cut), and a chi-square goodness-of-fit audit
(q410 — each event type's weekday profile tested against the
global weekday mix: q351's Cramer's V measures association
strength, this gate scores DEVIATION of one stream from the
pooled seasonal shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.batch90 import (
    _jacc_sql,
    _K_MH,
    _pair_jaccard_minhash,
    _pair_shingles_sql,
)
from python_tool_setup_spark.tables import load_table

_TOP = 10
_THRESH_MICRO = [200_000, 400_000, 500_000, 600_000, 800_000]
_TRUE_MICRO = 500_000  # ground truth: exact Jaccard >= 0.5


# ---------------------------------------------------------------- q408
@register(
    "q408_event_trigrams",
    f"""
    WITH seq AS (
        SELECT event_type AS t1,
               LEAD(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t2,
               LEAD(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t3
        FROM events
    )
    SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1, t2, t3 LIMIT {_TOP}
    """,
    doc="Top-10 per-user event-type TRIGRAMS (the three-step "
    "behavior motifs a funnel review starts from — q290's matrix "
    "and q400's entropy both stop at one transition; sequence "
    "curricula and anomaly rules need the longer motifs): two "
    "per-user lead windows (partitioned — (ts, event_id) total "
    "order), a |types|^3-bounded groupBy, deterministic "
    "(count DESC, types ASC) top-10 via orderBy().limit() — a "
    "bounded TakeOrdered, not a global sort. Scale: one shuffle "
    "on user_id; the trigram domain is metadata.",
)
def q408_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(_TOP)
    )


# ---------------------------------------------------------------- q409
@register(
    "q409_neardup_pr_curve",
    f"""
    WITH {_pair_shingles_sql(3, "sh")},
    {_jacc_sql("sh")},
    mins AS (
        SELECT doc_id, j,
               MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS mh
        FROM sh, generate_series(0, {_K_MH - 1}) AS t(j)
        GROUP BY doc_id, j
    ),
    est AS (
        SELECT p.da, p.db,
               CAST(ROUND(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                   * 1000000.0 / {_K_MH}) AS BIGINT) AS est_micro
        FROM pairs p
        JOIN mins ma ON ma.doc_id = p.da
        JOIN mins mb ON mb.doc_id = p.db AND mb.j = ma.j
        GROUP BY p.da, p.db
    ),
    labeled AS (
        SELECT j.j_micro >= {_TRUE_MICRO} AS truth, e.est_micro
        FROM jacc j JOIN est e ON j.da = e.da AND j.db = e.db
    ),
    sweep AS (
        SELECT t.t_micro,
               SUM(CASE WHEN l.est_micro >= t.t_micro
                        THEN 1 ELSE 0 END) AS pred_pos,
               SUM(CASE WHEN l.est_micro >= t.t_micro AND l.truth
                        THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN l.truth THEN 1 ELSE 0 END) AS pos
        FROM (VALUES {", ".join(f"({t})" for t in _THRESH_MICRO)})
             AS t(t_micro), labeled l
        GROUP BY t.t_micro
    )
    SELECT CAST(t_micro AS BIGINT) AS t_micro,
           CAST(pred_pos AS BIGINT) AS pred_pos,
           CAST(tp AS BIGINT) AS tp,
           CAST(pos AS BIGINT) AS pos,
           CAST(CASE WHEN pred_pos > 0
                     THEN ROUND(1000000.0 * tp / pred_pos) END AS BIGINT)
               AS precision_micro,
           CAST(CASE WHEN pos > 0
                     THEN ROUND(1000000.0 * tp / pos) END AS BIGINT)
               AS recall_micro
    FROM sweep ORDER BY t_micro
    """,
    doc=f"Near-duplicate detector operating characteristics: the "
    f"k={_K_MH} md5-derandomized MinHash estimate (q384's "
    "estimator) used as a CLASSIFIER of true 3-gram Jaccard >= "
    "0.5 on the deterministic pair family, swept over 5 "
    "estimate thresholds — precision/recall per cut, the table "
    "that justifies where q36's LSH banding places its "
    "threshold (and what recall it silently gives up). All "
    "comparisons are integer micro vs micro, so the confusion "
    "counts are engine-exact, not statistical. Scale: the "
    "audit family runs on the fixed doc slice by design; the "
    "threshold sweep is a broadcast 5-row cross join over the "
    "pair table.",
)
def q409_neardup_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    jacc, hashes = _pair_jaccard_minhash(spark, sf_dir)
    est = (
        hashes.groupBy("da", "db")
        .agg(
            F.round(
                F.sum(F.when(F.col("mh") == F.col("mhb"), 1).otherwise(0))
                * F.lit(1000000.0)
                / F.lit(_K_MH)
            )
            .cast("long")
            .alias("est_micro")
        )
    )
    labeled = jacc.join(est, ["da", "db"]).select(
        (F.col("j_micro") >= _TRUE_MICRO).alias("truth"), "est_micro"
    )
    thresholds = spark.createDataFrame(
        [(t,) for t in _THRESH_MICRO], ["t_micro"]
    )
    sweep = (
        labeled.crossJoin(F.broadcast(thresholds))
        .groupBy("t_micro")
        .agg(
            F.sum(
                F.when(F.col("est_micro") >= F.col("t_micro"), 1).otherwise(0)
            ).alias("pred_pos"),
            F.sum(
                F.when(
                    (F.col("est_micro") >= F.col("t_micro")) & F.col("truth"),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("pos"),
        )
    )
    return sweep.select(
        F.col("t_micro").cast("long").alias("t_micro"),
        F.col("pred_pos").cast("long").alias("pred_pos"),
        F.col("tp").cast("long").alias("tp"),
        F.col("pos").cast("long").alias("pos"),
        F.when(
            F.col("pred_pos") > 0,
            F.round(F.lit(1000000.0) * F.col("tp") / F.col("pred_pos")),
        )
        .cast("long")
        .alias("precision_micro"),
        F.when(
            F.col("pos") > 0,
            F.round(F.lit(1000000.0) * F.col("tp") / F.col("pos")),
        )
        .cast("long")
        .alias("recall_micro"),
    ).orderBy("t_micro")


# ---------------------------------------------------------------- q410
@register(
    "q410_chisq_goodness_of_fit",
    """
    WITH dow AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-05',
                         CAST(ts AS DATE)) % 7 AS d
        FROM events
    ),
    cell AS (SELECT event_type, d, COUNT(*) AS o FROM dow GROUP BY 1, 2),
    bytype AS (SELECT event_type, SUM(o) AS nt FROM cell GROUP BY 1),
    byday AS (SELECT d, SUM(o) AS nd FROM cell GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM cell),
    terms AS (
        SELECT c.event_type, b.nt,
               CAST(ROUND(1e9 *
                   (CAST(c.o AS DOUBLE)
                    - CAST(b.nt AS DOUBLE) * dd.nd / (SELECT n FROM tot))
                   * (CAST(c.o AS DOUBLE)
                      - CAST(b.nt AS DOUBLE) * dd.nd / (SELECT n FROM tot))
                   / (CAST(b.nt AS DOUBLE) * dd.nd / (SELECT n FROM tot)))
                   AS BIGINT) AS term_nano
        FROM cell c
        JOIN bytype b ON b.event_type = c.event_type
        JOIN byday dd ON dd.d = c.d
    )
    SELECT event_type,
           CAST(MAX(nt) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS df_plus_one,
           CAST(SUM(term_nano) AS BIGINT) AS chisq_nano
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    doc="Chi-square goodness-of-fit of each event type's weekday "
    "profile against the pooled weekday mix (expected cell = "
    "n_type * day_share — q351's Cramer's V scores the WHOLE "
    "table's association; this gate scores each stream's "
    "deviation from the global seasonal shape, the per-stream "
    "seasonality-anomaly audit): weekday via the engine-neutral "
    "Monday-epoch datediff mod 7 (q388), |types| x 7 cell "
    "counts, each (o-e)^2/e term nano-quantized BEFORE the "
    "order-independent integer sum. Scale: one scan to "
    "metadata-sized cells; everything after is free.",
)
def q410_chisq_goodness_of_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dow = e.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
            % 7
        ).alias("d"),
    )
    # ≤|types|×7 contingency table read FOUR times (row/col margins,
    # grand total, the term join): pin it so events is scanned once.
    cell = pin(dow.groupBy("event_type", "d").agg(F.count("*").alias("o")))
    bytype = cell.groupBy("event_type").agg(F.sum("o").alias("nt"))
    byday = cell.groupBy("d").agg(F.sum("o").alias("nd"))
    tot = cell.agg(F.sum("o").alias("n"))
    exp = (
        F.col("nt").cast("double")
        * F.col("nd")
        / F.col("n")
    )
    dev = F.col("o").cast("double") - exp
    terms = (
        cell.join(F.broadcast(bytype), "event_type")
        .join(F.broadcast(byday), "d")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "nt",
            F.round(F.lit(1e9) * dev * dev / exp)
            .cast("long")
            .alias("term_nano"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("nt").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("df_plus_one"),
            F.sum("term_nano").cast("long").alias("chisq_nano"),
        )
        .orderBy("event_type")
    )
