"""Round-5 gates, batch 71: exact two-sample Kolmogorov-Smirnov test
(q346 — THE nonparametric distribution-shift detector: did this
week's corpus come from the same length distribution as last
week's?) and Jensen-Shannon divergence (q347 — the symmetric,
bounded drift measure the PSI gate q261 pairs with: JS is what you
put in a data card, PSI is what you alarm on).

Both reduce the row domain to a distinct-value / bucket histogram
first, so the statistics cost one groupBy plus metadata work — the
same 100 TB shape as q261/q303.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_JS_BUCKETS = 16


# ---------------------------------------------------------------- q346
@register(
    "q346_ks_two_sample",
    """
    WITH tagged AS (
        SELECT n_chars AS v, doc_id % 2 = 1 AS g FROM documents
    ),
    hist AS (
        SELECT v,
               SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN g THEN 1 ELSE 0 END) AS c2
        FROM tagged GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
        FROM hist
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM hist)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           CAST(ROUND(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
               / CAST(n1 * n2 AS DOUBLE) * 1000000.0) AS BIGINT)
               AS ks_micro
    FROM cum, tot
    GROUP BY n1, n2
    """,
    doc="Exact two-sample Kolmogorov-Smirnov statistic between the "
    "even- and odd-doc_id halves of the corpus length distribution "
    "(the nonparametric did-the-distribution-shift test — what a "
    "corpus-drift monitor runs between snapshots when it cannot "
    "assume a bucket scheme like PSI q261): D = max_v |F1(v) - "
    "F2(v)| held as the INTEGER cross product max|cum1*n2 - "
    "cum2*n1| (one exact division at the end), CDFs assembled "
    "over the distinct-value histogram with the block-offset "
    "prefix (operators/blockrank.py) — no global window, no sort "
    "of data rows. The integer numerator caps at n1*n2 (~1e11 at "
    "sf1, comfortably long); at 1e10+ rows per side move the "
    "product to DECIMAL(38,0), same plan. Scale: one groupBy to "
    "the value histogram, metadata after.",
)
def q346_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        F.col("n_chars").alias("v"), (F.col("doc_id") % 2 == 1).alias("g")
    )
    # Value histogram read by the prefix machinery AND the sample-size
    # totals: pin it so documents is scanned once.
    hist = pin(
        tagged.groupBy("v").agg(
            F.sum(F.when(~F.col("g"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("g"), 1).otherwise(0)).alias("c2"),
        )
    )
    pre = prefix_agg(
        hist,
        [("v", "asc")],
        {"b1": ("sum", "c1"), "b2": ("sum", "c2")},
    )
    cum = pre.select(
        (F.col("b1") + F.col("c1")).alias("cum1"),
        (F.col("b2") + F.col("c2")).alias("cum2"),
    )
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    diff = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    agg = cum.crossJoin(F.broadcast(tot)).groupBy("n1", "n2").agg(
        F.max(diff).alias("d_num")
    )
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(
            F.col("d_num").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
            * 1000000.0
        )
        .cast("long")
        .alias("ks_micro"),
    )


# ---------------------------------------------------------------- q347
@register(
    "q347_js_divergence",
    f"""
    WITH halves AS (
        SELECT (LEAST(n_chars, 1999) * {_JS_BUCKETS}) // 2000 AS b,
               doc_id % 2 = 1 AS is_new
        FROM documents
    ),
    ob AS (SELECT b, COUNT(*) AS oc FROM halves WHERE NOT is_new GROUP BY b),
    nb AS (SELECT b, COUNT(*) AS nc FROM halves WHERE is_new GROUP BY b),
    j AS (
        SELECT COALESCE(ob.b, nb.b) AS b,
               COALESCE(oc, 0) AS oc, COALESCE(nc, 0) AS nc
        FROM ob FULL OUTER JOIN nb ON ob.b = nb.b
    ),
    tot AS (SELECT SUM(oc) AS ot, SUM(nc) AS nt FROM j),
    pq AS (
        SELECT b,
               (oc + 1.0) / (ot + {_JS_BUCKETS}) AS p,
               (nc + 1.0) / (nt + {_JS_BUCKETS}) AS q
        FROM j, tot
    ),
    terms AS (
        SELECT b,
               CAST(ROUND(1e9 * 5e-1
                   * (p * ln(2.0 * p / (p + q))
                      + q * ln(2.0 * q / (p + q)))) AS BIGINT) AS t_nano
        FROM pq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(t_nano) AS BIGINT) AS jsd_nano,
           CAST(ROUND(CAST(SUM(t_nano) AS DOUBLE) / 1000.0) AS BIGINT)
               AS jsd_micro
    FROM terms
    """,
    doc="Jensen-Shannon divergence between the even/odd corpus "
    "halves over the same 16-bucket length histogram as PSI q261 "
    "(JS is symmetric and bounded by ln 2 — the drift number a "
    "data card reports; PSI is the unbounded alarm variant): "
    "JSD = 1/2 KL(p||m) + 1/2 KL(q||m) with m=(p+q)/2, +1 "
    "Laplace smoothing exactly as q261, each bucket's term "
    "nano-quantized BEFORE the sum (1-ulp ln posture), one "
    "division at the end. Scale: two bucket-count aggregates and "
    "a 16-row reduce.",
)
def q347_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.least(F.col("n_chars"), F.lit(1999)) * _JS_BUCKETS / F.lit(2000)
    ).cast("long")
    halves = d.select(
        bucket.alias("b"), (F.col("doc_id") % 2 == 1).alias("is_new")
    )
    # ONE conditional aggregate instead of two filtered passes + a
    # full-outer join, and the half totals as window sums over the
    # ≤_JS_BUCKETS-row bucket table (the q261/q294 single-tree shape:
    # 4 documents scans → 1 in the plan; semantics identical — a
    # bucket in either half appears with exact 0 for the missing side).
    j = halves.groupBy("b").agg(
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("oc"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("nc"),
    )
    # bounded-domain: bucket table: at most _JS_BUCKETS rows (grouped by b)
    w1 = Window.partitionBy(F.lit(1))
    pq = j.select(
        "b",
        (
            (F.col("oc") + 1.0) / (F.sum("oc").over(w1) + _JS_BUCKETS)
        ).alias("p"),
        (
            (F.col("nc") + 1.0) / (F.sum("nc").over(w1) + _JS_BUCKETS)
        ).alias("q"),
    )
    t_nano = F.round(
        F.lit(1e9)
        * F.lit(5e-1)
        * (
            F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q")))
            + F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
        )
    ).cast("long")
    terms = pq.select(t_nano.alias("t_nano"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("t_nano").cast("long").alias("jsd_nano"),
        F.round(F.sum("t_nano").cast("double") / 1000.0)
        .cast("long")
        .alias("jsd_micro"),
    )
