"""Training-data pipeline gate queries (q68-q72): deterministic
sampling, shard packing, TF-IDF, mix rebalancing, dup-cluster
resolution.

All five are oracle-checked — the operators are engine-independent by
construction (md5 buckets, exact prefix sums, exact Jaccard +
transitive closure via DuckDB recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.llm.dedup import dup_clusters, ngram_jaccard_pairs
from python_tool_setup_spark.llm.pipeline import (
    mix_weights,
    pack_shards,
    stratified_sample,
)
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

# whitespace tokenizer shared with queries/llm.py oracles
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

_RATES = {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.8}

# sf_dir -> resolved dup-cluster labels over the planted corpus
_LABELS: dict[str, DataFrame] = {}


def _tok_count() -> F.Column:
    return F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    )


@register(
    "q68_stratified_sample",
    f"""
    WITH rates(lang, rate) AS (VALUES
        ('en', 0.25), ('de', 0.8), ('fr', 0.8), ('es', 0.8), ('zh', 0.8))
    SELECT doc_id, d.lang
    FROM documents d JOIN rates USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < rate * 10000
    """,
    doc="Deterministic stratified sampling: md5-hash-mod buckets per "
    "row, per-language keep rates (downsample the majority language, "
    "keep most of the rest). Pure filter on the scan — no shuffle, no "
    "RNG state, reproducible and resumable at any scale.",
)
def q68_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", _RATES, "doc_id").select("doc_id", "lang")


@register(
    "q69_shard_packing",
    f"""
    WITH toks AS (
        SELECT lang, doc_id, LEN({_SQL_TOKS}) AS tok FROM documents
    ),
    pref AS (
        SELECT lang, tok,
               COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix
        FROM toks
    )
    SELECT lang, CAST(FLOOR(prefix / 2000) AS BIGINT) AS shard_id,
           COUNT(*) AS docs, CAST(SUM(tok) AS BIGINT) AS shard_tokens
    FROM pref GROUP BY 1, 2
    """,
    doc="Token-budget shard packing: documents fill 2000-token shards "
    "per language in doc_id order (shard = exclusive-prefix-sum / "
    "budget). Two-level prefix sum — per-chunk partials + broadcast "
    "offsets + bounded within-chunk window — so no language is ever "
    "funneled through a single task.",
)
def q69_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", _tok_count().alias("tok")
    )
    packed = pack_shards(d, "lang", "doc_id", "tok", budget=2000, chunk_size=50)
    return packed.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("tok").alias("shard_tokens")
    )


@register(
    "q70_tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, UNNEST({_SQL_TOKS}) AS term FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    idf AS (
        SELECT term, LN(CAST(n_docs AS DOUBLE) / COUNT(DISTINCT doc_id)) AS idf
        FROM toks, n GROUP BY term, n_docs
    ),
    scored AS (
        SELECT t.lang, t.term, ROUND(COUNT(*) * i.idf, 6) AS tfidf
        FROM toks t JOIN idf i USING (term)
        GROUP BY t.lang, t.term, i.idf
    )
    SELECT lang, term, tfidf FROM (
        SELECT lang, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
    doc="TF-IDF top terms per language: corpus term frequency x inverse "
    "document frequency, top 3 per language (ties broken by term). "
    "The idf table is tiny (vocabulary-sized) and broadcast; the only "
    "big shuffle is the (lang, term) aggregate with map-side combine.",
)
def q70_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    )
    n_docs = toks.select("doc_id").distinct().count()
    idf = toks.groupBy("term").agg(
        F.log(F.lit(float(n_docs)) / F.countDistinct("doc_id")).alias("idf")
    )
    scored = (
        toks.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(idf), "term")
        .select("lang", "term", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "term", "tfidf")
    )


@register(
    "q71_mix_weights",
    """
    WITH counts AS (
        SELECT lang, COUNT(*) AS group_rows FROM documents GROUP BY lang
    )
    SELECT lang, group_rows,
           -- scale-first rounds (q208 recipe): decimal-reachable ties
           ROUND(1000000 * (CAST(group_rows AS DOUBLE)
                 / SUM(group_rows) OVER ())) / 1000000.0
               AS actual_share,
           ROUND(1000000 * ((1.0 / COUNT(*) OVER ())
                 / (CAST(group_rows AS DOUBLE)
                    / SUM(group_rows) OVER ()))) / 1000000.0
               AS weight
    FROM counts
    """,
    doc="Corpus mix rebalancing: per-language resampling weight = "
    "uniform target share / actual share. One tiny aggregate; the "
    "weight table feeds stratified_sample rates to rebalance toward "
    "the target mix.",
)
def q71_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_weights(load_table(spark, sf_dir, "documents"), "lang")


@register(
    "q72_dup_clusters",
    f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 100000, text || ' zz qq' FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 200000, text || ' zz qq ww' FROM documents WHERE doc_id < 60
    ),
    shingled AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 4, 1)),
                   i -> array_to_string(toks[i:i+4], ' '))) AS sh
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM base)
    ),
    edges AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
                   / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS jac
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        ) WHERE jac >= 0.5
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.src, r.lbl FROM und u JOIN reach r ON u.dst = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Near-dup cluster resolution: exact 5-gram Jaccard pairs over "
    "a corpus with two planted mutated copies per document, resolved "
    "into connected components by iterative min-label propagation "
    "(one shuffle per round, lineage truncated per round, converges "
    "in O(log diameter) rounds). Oracle recomputes components with a "
    "recursive CTE. Downstream 'keep one per cluster' is then a "
    "single dropDuplicates on cluster_id.",
)
def _planted_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard pairs -> components over the planted-copy corpus; the
    labels are localCheckpointed by dup_clusters, so caching the
    DataFrame per corpus is safe and shared by q72/q91."""
    if sf_dir not in _LABELS:
        d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
        c1 = d.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
            "text", F.concat("text", F.lit(" zz qq"))
        )
        c2 = d.withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
            "text", F.concat("text", F.lit(" zz qq ww"))
        )
        corpus = d.unionByName(c1).unionByName(c2)
        pairs = ngram_jaccard_pairs(
            corpus, "doc_id", "text", shingle_size=5, threshold=0.5
        )
        _LABELS[sf_dir] = dup_clusters(pairs)
    return _LABELS[sf_dir]


@register(
    "q91_dedup_keep_best",
    f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 100000, text || ' zz qq' FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
        WHERE doc_id < 60
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id BETWEEN 60 AND 79
    ),
    shingled AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 4, 1)),
                   i -> array_to_string(toks[i:i+4], ' '))) AS sh
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM base)
    ),
    edges AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
                   / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS jac
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        ) WHERE jac >= 0.5
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.src, r.lbl FROM und u JOIN reach r ON u.dst = r.node
    ),
    labels AS (
        SELECT b.doc_id,
               COALESCE(m.cluster_id, b.doc_id) AS cluster_id,
               LEN(b.text) AS n_chars
        FROM base b LEFT JOIN (
            SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
        ) m ON b.doc_id = m.node
    )
    SELECT cluster_id, doc_id AS survivor, cluster_size FROM (
        SELECT cluster_id, doc_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM labels
    ) WHERE rk = 1
    """,
    doc="End-to-end near-dup dedup: pairs -> connected components -> "
    "keep-best survivor per cluster (longest text, id tie-break); "
    "docs with no near-dup survive as their own singleton cluster. "
    "This is the full 'find, cluster, select' dedup pipeline a corpus "
    "actually runs — the survivor policy is one window over the "
    "cluster id, so policy changes (newest, highest-quality) are a "
    "one-line ORDER BY swap.",
)
def q91_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    lo = d.filter(F.col("doc_id") < 60)
    c1 = lo.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat("text", F.lit(" zz qq"))
    )
    c2 = lo.withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
        "text", F.concat("text", F.lit(" zz qq ww"))
    )
    singles = d.filter(F.col("doc_id").between(60, 79))
    corpus = lo.unionByName(c1).unionByName(c2).unionByName(singles).select(
        "doc_id", "text"
    )
    # singletons share no shingle-pair with anything, so the planted
    # labels (computed once, shared with q72) are exactly this
    # corpus's components
    labels = _planted_labels(spark, sf_dir).withColumnRenamed("doc_id", "node")
    labeled = corpus.join(
        labels, corpus["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labeled.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("doc_id").alias("survivor"), "cluster_size")
    )


@register(
    "q95_train_val_test_split",
    """
    WITH tagged AS (
        SELECT lang,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 10000 < 100 THEN 'val'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 10000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n FROM tagged GROUP BY split, lang
    """,
    doc="Deterministic train/val/test split by md5 key bucket: stable "
    "across runs and engines, zero shuffle (pure projection); the "
    "oracle recomputes every assignment.",
)
def q95_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import train_val_test_split

    d = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(d, "doc_id", val_frac=0.01, test_frac=0.01)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q96_cap_per_source",
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
    doc="Per-source frequency capping (web-corpus diversity gate): keep "
    "the 20 longest docs per source — one window, one shuffle on the "
    "group key; the skewed groups are exactly where rows drop.",
)
def q96_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.relational import top_k

    d = load_table(spark, sf_dir, "documents")
    return top_k(
        d, 20, [F.col("n_chars").desc(), F.col("doc_id")], ["source"]
    ).select("doc_id", "source")


@register(
    "q97_quality_percentile_filter",
    """
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE n_chars >= (SELECT quantile_disc(n_chars, 0.1) FROM documents)
    """,
    doc="Corpus-level quality filtering: drop the worst decile by score "
    "(here n_chars as the stand-in quality signal). Cutoff comes from a "
    "one-pass mergeable quantile sketch (approxQuantile; exact at "
    "relative_error=0 for gate parity, ~1e-4 at 100 TB) — the driver "
    "receives ONE scalar, the filter pushes down to the scan.",
)
def q97_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import quantile_quality_filter

    d = load_table(spark, sf_dir, "documents")
    kept = quantile_quality_filter(
        d, "n_chars", keep_frac=0.9, relative_error=0.0
    )
    return kept.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))


@register(
    "q98_incremental_dedup",
    """
    WITH store AS (
        SELECT DISTINCT sha256(text) AS content_sha
        FROM documents WHERE doc_id < 250
    ),
    firsts AS (
        SELECT doc_id, content_sha FROM (
            SELECT doc_id, sha256(text) AS content_sha,
                   ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    )
    SELECT f.doc_id, f.content_sha
    FROM firsts f LEFT JOIN store s USING (content_sha)
    WHERE s.content_sha IS NULL
    """,
    doc="Incremental exact dedup: a new batch is checked against the "
    "persisted content-hash store (here: hashes of doc_id < 250), "
    "keeping the min-id survivor per hash within the batch. Both the "
    "in-batch window and the anti join partition on the hash, so one "
    "exchange serves both; at scale the store is bucketed by hash.",
)
def q98_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import incremental_dedup

    d = load_table(spark, sf_dir, "documents")
    store = d.filter(F.col("doc_id") < 250).select(
        F.sha2("text", 256).alias("content_sha")
    )
    out = incremental_dedup(d, store, "doc_id")
    return out.select("doc_id", "content_sha")
