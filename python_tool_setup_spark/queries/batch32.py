"""Round-4 gates, batch 32: embedding-quality and corpus-monitoring
operators — kNN label consistency (q260: the standard embedding-space
sanity metric), PSI distribution drift between corpus snapshots (q261:
the monitoring staple that pages a human before a bad crawl poisons
training), and hard-negative mining for retrieval training (q262:
top-k nearest WRONG-label candidates per anchor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_KNN_Q = 20  # anchors evaluated
_KNN_K = 5  # neighbors voted


# ---------------------------------------------------------------- q260
@register(
    "q260_knn_label_consistency",
    f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_KNN_Q}),
         c AS (SELECT vec_id AS cid, label AS clabel,
                      embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT qid, qlabel, cid, clabel,
                      list_dot_product(qv, cv)
                      / (SQRT(list_dot_product(qv, qv))
                         * SQRT(list_dot_product(cv, cv))) AS cosine
               FROM q CROSS JOIN c WHERE qid <> cid),
         topk AS (
            SELECT * FROM (
                SELECT qid, qlabel, clabel,
                       ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, cid) AS rk
                FROM s
            ) WHERE rk <= {_KNN_K}
         ),
         votes AS (
            SELECT qid, qlabel, clabel, COUNT(*) AS v
            FROM topk GROUP BY qid, qlabel, clabel
         ),
         pred AS (
            SELECT qid, qlabel, clabel AS plabel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY v DESC, clabel) AS prk
                FROM votes
            ) WHERE prk = 1
         )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(*) FILTER (WHERE plabel = qlabel) AS BIGINT)
               AS n_consistent,
           -- scale-first round (q208 recipe): decimal-reachable ties
           ROUND(10000 * (CAST(COUNT(*) FILTER (WHERE plabel = qlabel)
                 AS DOUBLE) / COUNT(*))) / 10000.0 AS consistency
    FROM pred
    """,
    doc="kNN label consistency — the standard embedding-space sanity "
    f"metric: for {_KNN_Q} anchor vectors, take the top-{_KNN_K} "
    "cosine neighbors (excluding self), majority-vote their labels "
    "(deterministic count-desc/label-asc tie-break), and measure how "
    "often the vote agrees with the anchor's own label. Low "
    "consistency means the embedding space doesn't respect the "
    "labels — caught here before anyone trains a classifier on it. "
    "Plan: the bounded anchor set broadcasts against the corpus "
    "(q37's exact-cosine kernel, opt-in at scale exactly like q37; "
    "the ANN probes q41/q42 are the 100 TB path), then two tiny "
    "windows over Q x K rows. Integer votes -> engine-exact.",
)
def q260_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    corpus = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        vec.alias("cv"),
    )
    anchors = e.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        vec.alias("qv"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    sims = (
        F.broadcast(anchors)
        .crossJoin(corpus)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            (
                dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("cv"), F.col("cv")))
                )
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "cid")
    topk = sims.withColumn("rk", F.row_number().over(wk)).filter(
        F.col("rk") <= _KNN_K
    )
    votes = topk.groupBy("qid", "qlabel", "clabel").agg(
        F.count(F.lit(1)).alias("v")
    )
    wp = Window.partitionBy("qid").orderBy(F.col("v").desc(), "clabel")
    pred = (
        votes.withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("plabel"))
    )
    agree = F.sum(
        (F.col("plabel") == F.col("qlabel")).cast("long")
    )
    return pred.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        agree.cast("bigint").alias("n_consistent"),
        # scale-first round: see the oracle comment
        (F.round(10000 * (agree / F.count(F.lit(1)))) / 10000.0).alias(
            "consistency"
        ),
    )


# ---------------------------------------------------------------- q261
_PSI_BUCKETS = 10


@register(
    "q261_psi_corpus_drift",
    f"""
    WITH old AS (
        SELECT (LEAST(n_chars, 1999) * {_PSI_BUCKETS}) // 2000 AS b
        FROM documents WHERE doc_id % 2 = 0
    ),
    new AS (
        SELECT (LEAST(n_chars, 1999) * {_PSI_BUCKETS}) // 2000 AS b
        FROM documents WHERE doc_id % 2 = 1
    ),
    ob AS (SELECT b, COUNT(*) AS c FROM old GROUP BY b),
    nb AS (SELECT b, COUNT(*) AS c FROM new GROUP BY b),
    dom AS (SELECT DISTINCT b FROM (SELECT b FROM ob UNION SELECT b FROM nb)),
    j AS (
        SELECT dom.b,
               (COALESCE(ob.c, 0) + 1.0)
                   / ((SELECT SUM(c) FROM ob) + {_PSI_BUCKETS}) AS p,
               (COALESCE(nb.c, 0) + 1.0)
                   / ((SELECT SUM(c) FROM nb) + {_PSI_BUCKETS}) AS q
        FROM dom LEFT JOIN ob USING (b) LEFT JOIN nb USING (b)
    ),
    terms AS (
        SELECT b, CAST(ROUND(1e6 * (q - p) * ln(q / p)) AS BIGINT) AS t
        FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(t) AS BIGINT) AS psi_micro,
           SUM(t) < 100000 AS stable
    FROM terms
    """,
    doc="Population-stability-index drift monitor between two corpus "
    "snapshots (here: even/odd doc_id halves standing in for "
    "yesterday/today): document-length distributions are bucketed "
    f"into {_PSI_BUCKETS} fixed ranges, add-one smoothed, and "
    "PSI = sum((q-p) * ln(q/p)) is computed per bucket, QUANTIZED to "
    "integer micro-nats per bucket before summing (q257's trick: "
    "engine-exact integer totals, no FP-order divergence). "
    "PSI < 0.1 (100000 micro) = stable — the conventional alerting "
    "threshold that pages before a bad crawl or parser regression "
    "poisons a training run. Two scans (or one with pivot), two "
    f"{_PSI_BUCKETS}-row aggregates; the bucket table is bounded "
    "metadata, so at 100 TB the monitor costs two partial-agg "
    "passes, nothing else.",
)
def q261_psi_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.least(F.col("n_chars"), F.lit(1999)) * _PSI_BUCKETS / F.lit(2000)
    ).cast("long")
    halves = d.select(
        bucket.alias("b"), (F.col("doc_id") % 2 == 1).alias("is_new")
    )
    # ONE conditional aggregate instead of two filtered passes + a
    # full-outer join (identical semantics: a bucket present in either
    # half appears with exact 0 for the missing side, a bucket in
    # neither has no rows at all), and the half totals become window
    # sums over the ≤_PSI_BUCKETS-row bucket table instead of a
    # separate aggregate branch re-instantiating the scan (4 documents
    # scans → 1 in the plan).
    base = halves.groupBy("b").agg(
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("oc"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("nc"),
    )
    # bounded-domain: bucket table: at most _PSI_BUCKETS rows (grouped by b)
    w1 = Window.partitionBy(F.lit(1))
    j = base.select(
        "b",
        (
            (F.col("oc") + 1.0)
            / (F.sum("oc").over(w1) + _PSI_BUCKETS)
        ).alias("p"),
        (
            (F.col("nc") + 1.0)
            / (F.sum("nc").over(w1) + _PSI_BUCKETS)
        ).alias("q"),
    )
    terms = j.select(
        "b",
        F.round(F.lit(1e6) * (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")))
        .cast("long")
        .alias("t"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("t").cast("bigint").alias("psi_micro"),
        (F.sum("t") < 100000).alias("stable"),
    )


# ---------------------------------------------------------------- q262
_HN_Q = 15  # anchors mined
_HN_K = 3  # hard negatives per anchor


@register(
    "q262_hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_HN_Q}),
         c AS (SELECT vec_id AS cid, label AS clabel,
                      embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT qid, qlabel, cid, clabel,
                      ROUND(list_dot_product(qv, cv)
                      / (SQRT(list_dot_product(qv, qv))
                         * SQRT(list_dot_product(cv, cv))), 6) AS cosine
               FROM q CROSS JOIN c
               WHERE qid <> cid AND qlabel <> clabel)
    SELECT qid, cid AS negative_id, clabel AS negative_label, cosine,
           CAST(rk AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, cid) AS rk
        FROM s
    ) WHERE rk <= {_HN_K}
    """,
    doc="Hard-negative mining for retrieval/contrastive training: for "
    f"each of {_HN_Q} anchors, the top-{_HN_K} most-similar vectors "
    "with a DIFFERENT label — the negatives that actually move a "
    "contrastive loss (random negatives are trivially separable). "
    "The label inequality is pushed into the candidate predicate "
    "BEFORE ranking, so the window ranks only wrong-label "
    "candidates. Same bounded-anchor broadcast kernel as q260/q37 "
    "(exact baseline; q41/q42's bucketed ANN is the mining path at "
    "100 TB, with the label filter applied inside each bucket "
    "probe). Cosines rounded to 6dp on both engines.",
)
def q262_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    corpus = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        vec.alias("cv"),
    )
    anchors = e.filter(F.col("vec_id") < _HN_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        vec.alias("qv"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    sims = (
        F.broadcast(anchors)
        .crossJoin(corpus)
        .filter(
            (F.col("qid") != F.col("cid"))
            & (F.col("qlabel") != F.col("clabel"))
        )
        .select(
            "qid",
            "cid",
            "clabel",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("cv"), F.col("cv")))
                ),
                6,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "cid")
    return (
        sims.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "qid",
            F.col("cid").alias("negative_id"),
            F.col("clabel").alias("negative_label"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )
