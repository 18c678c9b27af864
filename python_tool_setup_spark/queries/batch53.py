"""Round-4 gates, batch 53: NDCG@20 (q310 — graded-relevance ranking
quality, completing the eval triple with q302 ROC-AUC and q309 AP),
multi-class precision/recall/F1 (q311 — per-class + macro/micro from
one confusion matrix), and a cross-source vocabulary Jaccard matrix
(q312 — which corpora speak the same language, beside q288's
two-snapshot churn).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_NDCG_K = 20


# ---------------------------------------------------------------- q310
@register(
    "q310_ndcg_at_k",
    f"""
    WITH scored AS (
        SELECT doc_id, n_chars AS s,
               CAST(pow(2, LEAST(3, (length(text)
                   - length(replace(text, 'data', ''))) // 4)) - 1
                   AS BIGINT) AS gain
        FROM documents
    ),
    top_ AS (
        SELECT gain, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS k
        FROM scored ORDER BY s DESC, doc_id LIMIT {_NDCG_K}
    ),
    ideal AS (
        SELECT gain, ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS k
        FROM scored ORDER BY gain DESC, doc_id LIMIT {_NDCG_K}
    ),
    dcg AS (
        SELECT SUM(CAST(ROUND(CAST(gain AS DOUBLE)
            / log2(CAST(k + 1 AS DOUBLE)) * 1000000000.0) AS BIGINT))
            AS dcg_nano
        FROM top_
    ),
    idcg AS (
        SELECT SUM(CAST(ROUND(CAST(gain AS DOUBLE)
            / log2(CAST(k + 1 AS DOUBLE)) * 1000000000.0) AS BIGINT))
            AS idcg_nano
        FROM ideal
    )
    SELECT CAST((SELECT dcg_nano FROM dcg) AS BIGINT) AS dcg_nano,
           CAST((SELECT idcg_nano FROM idcg) AS BIGINT) AS idcg_nano,
           CAST(ROUND(CAST((SELECT dcg_nano FROM dcg) AS DOUBLE)
               / CAST((SELECT idcg_nano FROM idcg) AS DOUBLE)
               * 1000000.0) AS BIGINT) AS ndcg_micro
    """,
    doc="NDCG@20 with graded relevance (the third leg of the eval "
    "stack: q302 AUC ranks binary labels globally, q309 AP weights "
    "early precision, NDCG discounts GRADED gains by rank — what "
    "search and RAG retrievers actually report): relevance grade "
    "= capped occurrence count of the query term (gains 2^rel-1 in "
    "{{0,1,3,7}}, exact integers), ranking by the length retriever "
    "with doc_id tiebreaks, ideal ranking by gain itself. Each "
    "gain/log2(k+1) term quantizes to nano before the 20-term "
    "sums (log2's 1-ulp posture); the final DCG/IDCG ratio is one "
    "correctly-rounded division. Scale: two distributed "
    "TakeOrdered top-20s — ranks only materialize on 20-row "
    "tables, nothing global.",
)
def q310_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.evalmetrics import ndcg_at_k

    d = load_table(spark, sf_dir, "documents")
    tf = (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("data"), F.lit("")))
        )
        / 4
    ).cast("long")
    scored = d.select(
        "doc_id",
        F.col("n_chars").alias("s"),
        (F.pow(F.lit(2.0), F.least(F.lit(3), tf).cast("double")) - 1)
        .cast("long")
        .alias("gain"),
    )
    return ndcg_at_k(scored, "s", "doc_id", "gain", _NDCG_K)


# ---------------------------------------------------------------- q311
@register(
    "q311_multiclass_f1",
    """
    WITH labeled AS (
        SELECT lang AS actual,
               CASE WHEN CAST(('0x' || substr(md5('noise|' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 4 = 0
                    THEN 'en' ELSE lang END AS pred
        FROM documents
    ),
    classes AS (SELECT DISTINCT actual AS c FROM labeled),
    stats AS (
        SELECT c,
               (SELECT COUNT(*) FROM labeled
                WHERE actual = c AND pred = c) AS tp,
               (SELECT COUNT(*) FROM labeled
                WHERE pred = c AND actual <> c) AS fp,
               (SELECT COUNT(*) FROM labeled
                WHERE actual = c AND pred <> c) AS fn
        FROM classes
    ),
    per_class AS (
        SELECT c, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn,
               CAST(ROUND(CAST(2 * tp AS DOUBLE)
                   / CAST(2 * tp + fp + fn AS DOUBLE) * 1000000.0)
                   AS BIGINT) AS f1_micro_units
        FROM stats
    )
    SELECT c AS class, tp, fp, fn, f1_micro_units,
           CAST(ROUND(CAST(SUM(f1_micro_units) OVER () AS DOUBLE)
               / CAST(COUNT(*) OVER () AS DOUBLE)) AS BIGINT)
               AS macro_f1_micro,
           CAST(ROUND(CAST(SUM(tp) OVER () AS DOUBLE)
               / CAST(SUM(tp) OVER () + SUM(fp) OVER () AS DOUBLE)
               * 1000000.0) AS BIGINT) AS micro_f1_micro
    FROM per_class ORDER BY class
    """,
    doc="Multi-class precision/recall/F1 from one confusion matrix "
    "(the per-class eval readout beside q305's kappa — kappa says "
    "'beyond chance', F1 says WHERE the errors are): the stored "
    "language label vs a deterministic md5-noised copy (1-in-4 "
    "docs mispredicted as 'en'), per-class tp/fp/fn as exact "
    "integers, per-class F1 = 2tp/(2tp+fp+fn) micro-quantized, "
    "plus macro-F1 (mean of quantized per-class F1s) and micro-F1 "
    "(global tp rate — accuracy in single-label classification). "
    "Scale: ONE groupBy on (actual, pred) — the |C|^2 cell table — "
    "then per-class sums and window means over metadata; the "
    "oracle's correlated subqueries are the same cells spelled "
    "slowly.",
)
def q311_multiclass_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("noise|"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    labeled = d.select(
        F.col("lang").alias("actual"),
        F.when(h % 4 == 0, F.lit("en")).otherwise(F.col("lang")).alias("pred"),
    )
    # Pin the ≤|langs|² confusion cells once: tp/fp/fn/classes all
    # re-referenced them, each re-running the docs scan + md5 noise
    # (14 Exchange / 8 scans in the r10-before plan).
    cells = pin(
        labeled.groupBy("actual", "pred").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tp = cells.filter(F.col("actual") == F.col("pred")).select(
        F.col("actual").alias("c"), F.col("n").alias("tp")
    )
    fp = (
        cells.filter(F.col("actual") != F.col("pred"))
        .groupBy(F.col("pred").alias("c"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cells.filter(F.col("actual") != F.col("pred"))
        .groupBy(F.col("actual").alias("c"))
        .agg(F.sum("n").alias("fn"))
    )
    # every actual value appears in some cell, so the class domain can
    # come from the pinned cells instead of a second corpus pass
    classes = cells.select(F.col("actual").alias("c")).distinct()
    stats = (
        classes.join(tp, "c", "left")
        .join(fp, "c", "left")
        .join(fn, "c", "left")
        .fillna(0, ["tp", "fp", "fn"])
    )
    f1 = F.round(
        (2 * F.col("tp")).cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
        * 1000000.0
    ).cast("long")
    per_class = stats.select(
        "c",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        f1.alias("f1_micro_units"),
    )
    # macro/micro totals as global window sums over the tiny
    # per-class table (q294 shape) — no second instantiation
    # bounded-domain: per-class table: one row per class (lang)
    wall = Window.partitionBy(F.lit(1))
    return per_class.select(
        "*",
        F.sum("f1_micro_units").over(wall).alias("_sf1"),
        F.count(F.lit(1)).over(wall).alias("_nc"),
        F.sum("tp").over(wall).alias("_stp"),
        F.sum("fp").over(wall).alias("_sfp"),
    ).select(
        F.col("c").alias("class"),
        "tp",
        "fp",
        "fn",
        "f1_micro_units",
        F.round(F.col("_sf1").cast("double") / F.col("_nc").cast("double"))
        .cast("long")
        .alias("macro_f1_micro"),
        F.round(
            F.col("_stp").cast("double")
            / (F.col("_stp") + F.col("_sfp")).cast("double")
            * 1000000.0
        )
        .cast("long")
        .alias("micro_f1_micro"),
    ).orderBy("class")


# ---------------------------------------------------------------- q312
@register(
    "q312_source_vocab_jaccard",
    """
    WITH vocab AS (
        SELECT DISTINCT source, w
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    sizes AS (SELECT source, COUNT(*) AS nv FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS s1, b.source AS s2, COUNT(*) AS ninter
        FROM vocab a JOIN vocab b
          ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.s1, i.s2,
           CAST(i.ninter AS BIGINT) AS n_inter,
           CAST(za.nv AS BIGINT) AS n1,
           CAST(zb.nv AS BIGINT) AS n2,
           CAST(ROUND(CAST(i.ninter AS DOUBLE)
               / CAST(za.nv + zb.nv - i.ninter AS DOUBLE)
               * 1000000.0) AS BIGINT) AS jaccard_micro
    FROM inter i
    JOIN sizes za ON za.source = i.s1
    JOIN sizes zb ON zb.source = i.s2
    ORDER BY i.s1, i.s2
    """,
    doc="Cross-source vocabulary Jaccard matrix — which corpora "
    "share a lexicon (the pairwise similarity view beside q288's "
    "two-SNAPSHOT churn; feeds source-grouping decisions for "
    "mixture weights and dedup scoping): per-source distinct "
    "vocabularies, pairwise intersections via ONE equi-join on "
    "the word (sharded by word, never a source×source×vocab "
    "blow-up — a word appearing in s sources contributes s(s-1)/2 "
    "join rows, bounded by source count squared per word), union "
    "sizes by inclusion-exclusion from exact integers. Output is "
    "the source-pair matrix — metadata-sized for any corpus.",
)
def q312_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # One word-keyed shuffle instead of three (distinct + self-join's
    # two sides): collect each word's SOURCE SET directly (collect_set
    # dedups, so the standalone distinct is redundant), derive the
    # per-source vocab sizes by exploding the sets back, and expand
    # source pairs array-locally (q304's triangular slice/transform —
    # the set is bounded by the source count, so the expansion is
    # metadata-sized). The old vocab×vocab join on w shuffled the full
    # distinct vocabulary twice and re-tokenized documents per side.
    by_w = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
    )
    sizes = (
        by_w.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    inter = (
        by_w.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) ->"
                    " transform(slice(ss, i + 2, size(ss) - i - 1),"
                    " y -> struct(x, y))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.x").alias("s1"), F.col("pr.y").alias("s2"))
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    za = sizes.select(F.col("source").alias("s1"), F.col("nv").alias("n1"))
    zb = sizes.select(F.col("source").alias("s2"), F.col("nv").alias("n2"))
    return (
        inter.join(F.broadcast(za), "s1")
        .join(F.broadcast(zb), "s2")
        .select(
            "s1",
            "s2",
            F.col("ninter").cast("long").alias("n_inter"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(
                F.col("ninter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("ninter")).cast("double")
                * 1000000.0
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
        .orderBy("s1", "s2")
    )
