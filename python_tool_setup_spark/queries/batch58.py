"""Round-4 gates, batch 58: Kaplan-Meier survival curve (q321 — the
time-to-event estimator with right-censoring, the retention-analysis
workhorse beside q94's fixed cohort grid) and skip-gram PMI word
associations (q322 — the word2vec-input co-occurrence statistic,
beside q294's column-level MI).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q321
@register(
    "q321_kaplan_meier",
    """
    WITH entry AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS entry FROM events
        GROUP BY user_id
    ),
    fp AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_purchase
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    subjects AS (
        SELECT e.user_id,
               CASE WHEN f.first_purchase IS NOT NULL
                         AND f.first_purchase <= DATE '2024-01-05'
                    THEN CAST(date_diff('day', e.entry,
                              f.first_purchase) AS BIGINT)
                    ELSE CAST(date_diff('day', e.entry,
                              DATE '2024-01-05') AS BIGINT)
               END AS t,
               CASE WHEN f.first_purchase IS NOT NULL
                         AND f.first_purchase <= DATE '2024-01-05'
                    THEN 1 ELSE 0 END AS converted
        FROM entry e LEFT JOIN fp f ON e.user_id = f.user_id
        WHERE e.entry <= DATE '2024-01-05'
    ),
    risk AS (
        SELECT t, COUNT(*) AS total, SUM(converted) AS d
        FROM subjects GROUP BY t
    ),
    cum AS (
        SELECT t, d,
               SUM(total) OVER (ORDER BY t DESC
                                ROWS UNBOUNDED PRECEDING) AS n_at_risk
        FROM risk
    ),
    terms AS (
        SELECT t, d, n_at_risk,
               CASE WHEN d < n_at_risk
                    THEN CAST(ROUND(ln(CAST(n_at_risk - d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE))
                        * 1000000000.0) AS BIGINT)
                    ELSE 0 END AS lnterm_nano,
               CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS extinct
        FROM cum WHERE d > 0
    )
    SELECT t AS day,
           CAST(d AS BIGINT) AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CASE WHEN MAX(extinct) OVER (ORDER BY t
                    ROWS UNBOUNDED PRECEDING) = 1 THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(exp(CAST(SUM(lnterm_nano) OVER (ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                    / 1000000000.0) * 1000000.0) AS BIGINT) END
               AS survival_micro
    FROM terms ORDER BY day
    """,
    doc="Kaplan-Meier time-to-event curve with right-censoring (the "
    "survival-analysis workhorse retention and conversion "
    "analytics are built on — q94's cohort grid reports fixed "
    "windows, KM handles subjects still unconverted at the "
    "horizon WITHOUT biasing the curve): subjects are users, the "
    "event is their first purchase, t runs from each user's "
    "first-ever event, and users whose first purchase falls "
    "after the Jan-5 horizon are CENSORED at the horizon — they "
    "leave the risk set but contribute no event (the thing a "
    "naive conversion rate gets wrong). The risk set per day is "
    "a DESCENDING cumulative window over per-day totals, and "
    "S(t) = prod(1 - d/n) runs in log space with each ln term "
    "quantized to nano before the cumulative sum (the "
    "multiplicative analogue of the repo's additive posture — "
    "exact integer accumulation, exp at the very end). Scale: "
    "two user-key aggregates + windows over the DAY table "
    "(metadata); the curve is |distinct event days| rows.",
)
def q321_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = F.lit("2024-01-05").cast("date")
    entry = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("entry")
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_purchase"))
    )
    conv = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") <= horizon
    )
    subjects = (
        entry.join(fp, "user_id", "left")
        .filter(F.col("entry") <= horizon)
        .select(
            F.when(conv, F.datediff(F.col("first_purchase"), F.col("entry")))
            .otherwise(F.datediff(horizon, F.col("entry")))
            .cast("long")
            .alias("t"),
            F.when(conv, 1).otherwise(0).alias("converted"),
        )
    )
    risk = subjects.groupBy("t").agg(
        F.count(F.lit(1)).alias("total"), F.sum("converted").alias("d")
    )
    cum = prefix_agg(
        risk, [("t", "desc")], {"later_total": ("sum", "total")}
    ).select(
        "t", "d", (F.col("later_total") + F.col("total")).alias("n_at_risk")
    )
    # the extinction day (d == n_at_risk) would be ln(0): flag it and
    # pin survival to exactly 0 from that day on instead of sending
    # -inf through the cumulative sum
    lnterm = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("d")).cast("double")
                / F.col("n_at_risk").cast("double")
            )
            * 1000000000.0
        ).cast("long"),
    ).otherwise(F.lit(0))
    extinct = F.when(F.col("d") == F.col("n_at_risk"), 1).otherwise(0)
    terms = cum.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_at_risk",
        lnterm.alias("lnterm_nano"),
        extinct.alias("extinct"),
    )
    terms = prefix_agg(
        terms,
        [("t", "asc")],
        {"ln_before": ("sum", "lnterm_nano"), "ext_before": ("max", "extinct")},
    )
    ext_upto = F.greatest(F.coalesce("ext_before", F.lit(0)), F.col("extinct"))
    surv = F.when(ext_upto == 1, F.lit(0)).otherwise(
        F.round(
            F.exp(
                (F.col("ln_before") + F.col("lnterm_nano")).cast("double")
                / 1000000000.0
            )
            * 1000000.0
        ).cast("long")
    )
    return terms.select(
        F.col("t").alias("day"),
        F.col("d").cast("long").alias("n_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        surv.cast("long").alias("survival_micro"),
    ).orderBy("day")


# ---------------------------------------------------------------- q322
_PMI_WINDOW = 2
_PMI_TOP = 50


@register(
    "q322_skipgram_pmi",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(arr) AS w,
               generate_subscripts(arr, 1) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents)
    ),
    pairs AS (
        SELECT LEAST(a.w, b.w) AS x, GREATEST(a.w, b.w) AS y,
               COUNT(*) AS nxy
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id
         AND b.i > a.i AND b.i <= a.i + {_PMI_WINDOW}
         AND a.w <> b.w
        GROUP BY 1, 2
    ),
    uni AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
    tot AS (SELECT SUM(nxy) AS tp FROM pairs),
    top_pairs AS (
        SELECT x, y, nxy FROM pairs
        ORDER BY nxy DESC, x, y LIMIT {_PMI_TOP}
    )
    SELECT p.x, p.y, CAST(p.nxy AS BIGINT) AS n_pair,
           CAST(ux.n AS BIGINT) AS n_x, CAST(uy.n AS BIGINT) AS n_y,
           CAST(ROUND(ln(CAST(p.nxy AS DOUBLE)
               * CAST((SELECT tp FROM tot) AS DOUBLE)
               / (CAST(ux.n AS DOUBLE) * CAST(uy.n AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS pmi_micro
    FROM top_pairs p
    JOIN uni ux ON ux.w = p.x
    JOIN uni uy ON uy.w = p.y
    ORDER BY n_pair DESC, p.x, p.y
    """,
    doc="Skip-gram PMI word associations (the co-occurrence "
    "statistic word2vec/GloVe factorize — which words keep "
    "company; q294 measures MI between COLUMNS, this measures "
    "pointwise MI between TOKENS): symmetric skip-gram pairs "
    "within a +/-2 window via a positional self-join bounded by "
    "the window size (each token pairs with <= 2 successors — "
    "linear blow-up, joined on the doc key it already shuffles "
    "on), unigram counts in one groupBy, PMI = "
    "ln(n_xy*T/(n_x*n_y)) micro-quantized per pair (1-ulp ln "
    "posture). Top-50 pairs by count with lexicographic "
    "tiebreaks keep the gate deterministic. Scale: pair "
    "cardinality is corpus-bounded like q296's baskets; the PMI "
    "enrich is two broadcast joins on the bounded top-k.",
)
def q322_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    # pinned: both `tot` and `top` consume the pair counts — an unpinned
    # lineage would run the positional self-join twice
    pairs = pin(
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.i") > F.col("a.i"))
            & (F.col("b.i") <= F.col("a.i") + _PMI_WINDOW)
            & (F.col("a.w") != F.col("b.w")),
        )
        .groupBy(
            F.least(F.col("a.w"), F.col("b.w")).alias("x"),
            F.greatest(F.col("a.w"), F.col("b.w")).alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.agg(F.sum("nxy").alias("tp"))
    top = pairs.orderBy(F.col("nxy").desc(), "x", "y").limit(_PMI_TOP)
    ux = uni.select(F.col("w").alias("x"), F.col("n").alias("n_x"))
    uy = uni.select(F.col("w").alias("y"), F.col("n").alias("n_y"))
    out = (
        top.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(tot))  # 1-row scalar attach
    )
    pmi = F.round(
        F.log(
            F.col("nxy").cast("double")
            * F.col("tp").cast("double")
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
        * 1000000.0
    ).cast("long")
    return out.select(
        "x",
        "y",
        F.col("nxy").cast("long").alias("n_pair"),
        F.col("n_x").cast("long").alias("n_x"),
        F.col("n_y").cast("long").alias("n_y"),
        pmi.alias("pmi_micro"),
    ).orderBy(F.col("n_pair").desc(), "x", "y")
