"""BM25 keyword retrieval over an inverted index.

The lexical leg of corpus search/retrieval pipelines (and the standard
contrast model for the embedding ANN paths in llm/similarity.py). The
whole computation is three JVM-side aggregations and one broadcast
join — no Python in the row path:

  1. postings:  explode docs into (doc_id, term, tf) + per-doc length
     — one shuffle keyed by (doc_id, term);
  2. df/idf:    term document-frequency — one shuffle keyed by term,
     output is vocabulary-sized (small), broadcast;
  3. scoring:   query terms (tiny, broadcast) ⋈ postings on term,
     partial-aggregated per (qid, doc_id).

At 100 TB the postings table is the big intermediate; it partitions by
term for the probe join, matches are proportional to postings of the
query terms only (Catalyst pushes the broadcast semi-join into the
scan side), and no stage ever materializes per-document vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.relational import ranked_top_k

TOKEN_SPLIT = "[^a-z]+"
# BM25's tf saturation and length normalization (the usual defaults).
_K1 = 1.2
_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents per query by BM25 over ``docs`` (doc_id, text).

    ``query_terms``: (qid, term) — one row per query keyword; scoring
    uses the Robertson/Sparck-Jones idf ``ln(1 + (N - df + .5)/(df + .5))``
    and the standard tf saturation with length normalization. Returns
    (qid, doc_id, score, rank) with score rounded to 6 decimals and
    rank dense over (score desc, doc_id).
    """
    # One corpus pass: doc length rides along with the explode so no
    # separate doc-keyed length join is ever needed, and the postings
    # index is persisted because three consumers (idf, corpus stats,
    # scoring probe) would otherwise each re-tokenize the corpus.
    from python_tool_setup_spark.sources.files import fan_out

    arr = fan_out(docs).select(
        F.col("doc_id"),
        F.filter(
            F.split(F.lower(F.col("text")), TOKEN_SPLIT),
            lambda t: t != F.lit(""),
        ).alias("__tk"),
    )
    toks = arr.select(
        "doc_id",
        F.size("__tk").alias("dl"),
        F.explode("__tk").alias("term"),
    )
    postings = (
        toks.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    doc_len = postings.select("doc_id", "dl").distinct()
    n_and_avg = doc_len.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    # df/idf only for the handful of QUERY terms, not the whole
    # vocabulary: scoring inner-joins on the query terms anyway, so
    # restricting postings first (broadcast semi of the tiny term
    # list) drops the full-vocab term shuffle from the plan — at scale
    # that shuffle moves the entire postings index to aggregate rows
    # whose idf nothing ever reads (guide §2.3/§2.4). df per surviving
    # term is unchanged: the restriction filters rows by term only.
    idf = (
        postings.join(F.broadcast(query_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_and_avg.select("n_docs")))
        .select(
            "term",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    scored = (
        postings.join(F.broadcast(query_terms), "term")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(n_and_avg.select("avg_dl")))
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (_K1 + 1.0))
            / (
                F.col("tf")
                + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .groupBy("qid", "doc_id")
        # scale-first round: kills the per-engine ROUND(x, 6) tie
        # class. Residual (documented floor): idf is ln()-derived
        # (libm-bound, ulp-identical at best across engines) and the
        # per-doc term sum is a double whose order can differ, so a
        # score within those ulps of a 5e-7 boundary can still flip —
        # the transcendental input rules out exact quantization.
        .agg((F.round(1000000 * F.sum("w")) / 1000000.0).alias("score"))
    )
    return ranked_top_k(
        scored, k, [F.col("score").desc(), F.col("doc_id")], ["qid"], "rank"
    ).select("qid", "doc_id", "score", "rank")
