"""Round-5 gates, batch 77: weight-of-evidence / information value
(q358 — credit-scoring's bucket-level predictive-power audit; the
feature-screening number risk teams compute before any model) and
the best Gini-impurity split point (q359 — the decision-tree split
primitive computed exactly over a value histogram: the inner loop
of tree training as one declarative plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_WOE_BUCKETS = 8


# ---------------------------------------------------------------- q358
@register(
    "q358_woe_iv",
    f"""
    WITH rows_ AS (
        SELECT (LEAST(n_chars, 1999) * {_WOE_BUCKETS}) // 2000 AS b,
               CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    agg AS (
        SELECT b, COUNT(*) AS n, SUM(y) AS bad,
               COUNT(*) - SUM(y) AS good
        FROM rows_ GROUP BY b
    ),
    tot AS (SELECT SUM(good) AS g, SUM(bad) AS bd FROM agg),
    terms AS (
        SELECT b, n, bad,
               CAST(ROUND(1e9 * ln(((good + 5e-1) / g)
                   / ((bad + 5e-1) / bd))) AS BIGINT) AS woe_nano,
               CAST(ROUND(1e6 * ((good + 5e-1) / g - (bad + 5e-1) / bd)
                   * ln(((good + 5e-1) / g) / ((bad + 5e-1) / bd)))
                   AS BIGINT) AS iv_term_micro
        FROM agg, tot
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           CAST(n AS BIGINT) AS n,
           CAST(bad AS BIGINT) AS n_pos,
           woe_nano, iv_term_micro,
           CAST((SELECT SUM(iv_term_micro) FROM terms) AS BIGINT)
               AS iv_total_micro
    FROM terms ORDER BY bucket
    """,
    doc="Weight of evidence / information value per length bucket "
    "for the 'mentions data' label (the credit-scoring feature "
    "screen: WOE_i = ln(good-share/bad-share) with +0.5 Laplace "
    "smoothing, IV = sum (gs-bs)*WOE — IV < 0.02 means the "
    "feature is useless, > 0.5 suspiciously strong): bucket "
    "scheme shared with PSI q261, per-bucket WOE nano-quantized "
    "and IV terms micro-quantized BEFORE the sum (1-ulp ln "
    "posture, e-notation literals for the DuckDB decimal gotcha). "
    "Scale: one groupBy to {_WOE_BUCKETS} buckets, metadata after.",
)
def q358_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.least(F.col("n_chars"), F.lit(1999)) * _WOE_BUCKETS / F.lit(2000)
    ).cast("long")
    rows = d.select(
        bucket.alias("b"),
        F.when(F.col("text").contains("data"), 1).otherwise(0).alias("y"),
    )
    # O(buckets) aggregate read by the totals AND the WoE terms; the
    # terms feed the IV total AND the final rows: pin both so documents
    # is scanned once.
    agg = pin(
        rows.groupBy("b").agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("bad")
        ).withColumn("good", F.col("n") - F.col("bad"))
    )
    tot = agg.agg(F.sum("good").alias("g"), F.sum("bad").alias("bd"))
    gs = (F.col("good") + F.lit(5e-1)) / F.col("g")
    bs = (F.col("bad") + F.lit(5e-1)) / F.col("bd")
    terms = pin(agg.crossJoin(F.broadcast(tot)).select(
        "b",
        "n",
        "bad",
        F.round(F.lit(1e9) * F.log(gs / bs)).cast("long").alias("woe_nano"),
        F.round(F.lit(1e6) * (gs - bs) * F.log(gs / bs))
        .cast("long")
        .alias("iv_term_micro"),
    ))
    iv = terms.agg(F.sum("iv_term_micro").alias("iv_total_micro"))
    return (
        terms.crossJoin(F.broadcast(iv))
        .select(
            F.col("b").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.col("bad").cast("long").alias("n_pos"),
            "woe_nano",
            "iv_term_micro",
            F.col("iv_total_micro").cast("long").alias("iv_total_micro"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- q359
@register(
    "q359_gini_split",
    """
    WITH rows_ AS (
        SELECT n_chars AS v,
               CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    hist AS (
        SELECT v, COUNT(*) AS cnt, SUM(y) AS pos FROM rows_ GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
               SUM(pos) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl
        FROM hist
    ),
    tot AS (SELECT SUM(cnt) AS n, SUM(pos) AS p FROM hist),
    cands AS (
        SELECT v, nl, pl, n - nl AS nr, p - pl AS pr,
               CAST(ROUND(1e6 / n * (
                   (CAST(nl AS DOUBLE)
                    - (CAST(pl AS DOUBLE) * pl
                       + CAST(nl - pl AS DOUBLE) * (nl - pl))
                      / CAST(nl AS DOUBLE))
                 + (CAST(n - nl AS DOUBLE)
                    - (CAST(p - pl AS DOUBLE) * (p - pl)
                       + CAST((n - nl) - (p - pl) AS DOUBLE)
                         * ((n - nl) - (p - pl)))
                      / CAST(n - nl AS DOUBLE)))) AS BIGINT)
                   AS impurity_micro
        FROM cum, tot WHERE n - nl > 0
    )
    SELECT CAST(v AS BIGINT) AS split_at,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           CAST(pl AS BIGINT) AS pos_left,
           CAST(pr AS BIGINT) AS pos_right,
           impurity_micro
    FROM cands ORDER BY impurity_micro, v LIMIT 1
    """,
    doc="Best binary split point by weighted Gini impurity (the "
    "decision-tree inner loop, run exactly and declaratively: "
    "split 'x <= v' over every distinct value of the length "
    "feature against the 'mentions data' label): left/right "
    "class counts come from the value histogram's block-offset "
    "prefix (operators/blockrank.py — candidate evaluation is "
    "metadata work, no row sort, no global window), the weighted "
    "impurity n_l*G_l + n_r*G_r is assembled with squares-as- "
    "products in identical double shape on both engines, "
    "micro-quantized per candidate, and the argmin is a "
    "distributed TakeOrdered with a deterministic value "
    "tie-break. Scale: one groupBy to distinct values.",
)
def q359_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rows = d.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("text").contains("data"), 1).otherwise(0).alias("y"),
    )
    # Value histogram read by the prefix machinery AND the totals: pin
    # it so documents is scanned once.
    hist = pin(
        rows.groupBy("v").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
        )
    )
    pre = prefix_agg(
        hist,
        [("v", "asc")],
        {"nb": ("sum", "cnt"), "pb": ("sum", "pos")},
    )
    cum = pre.select(
        "v",
        (F.col("nb") + F.col("cnt")).alias("nl"),
        (F.col("pb") + F.col("pos")).alias("pl"),
    )
    tot = hist.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))
    c = cum.crossJoin(F.broadcast(tot)).filter(F.col("n") - F.col("nl") > 0)
    nl = F.col("nl").cast("double")
    pl = F.col("pl").cast("double")
    gl = F.col("nl") - F.col("pl")
    nr = (F.col("n") - F.col("nl")).cast("double")
    pr = (F.col("p") - F.col("pl")).cast("double")
    gr = (F.col("n") - F.col("nl")) - (F.col("p") - F.col("pl"))
    wimp = (
        nl - (pl * pl + gl.cast("double") * gl) / nl
    ) + (nr - (pr * pr + gr.cast("double") * gr) / nr)
    cands = c.select(
        "v",
        "nl",
        "pl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("p") - F.col("pl")).alias("pr"),
        F.round(F.lit(1e6) / F.col("n") * wimp)
        .cast("long")
        .alias("impurity_micro"),
    )
    return (
        cands.orderBy("impurity_micro", "v")
        .limit(1)
        .select(
            F.col("v").cast("long").alias("split_at"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("pl").cast("long").alias("pos_left"),
            F.col("pr").cast("long").alias("pos_right"),
            "impurity_micro",
        )
    )
