"""LLM-data-pipeline queries (SURVEY.md §2.5 L1-L6) for the driver gate.

Oracle-checked where the computation is engine-independent (content
hashes, token stats, exact Jaccard, double-precision cosine); rows-only
where the result depends on Spark-specific hash functions (xxhash64
MinHash/SimHash signatures) or on ML training (IVF) — those get planted
-duplicate assertions in tests/test_llm.py instead.

Near-dup queries PLANT duplicates (documents unioned with mutated
copies, embeddings with scaled copies) so the checks are non-trivial:
the fixture corpus itself has no exact duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.llm import (
    ann_lsh_topk,
    cosine_topk,
    embedding_neardup_pairs,
    exact_dedup,
    fingerprint_minhash,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    text_stats,
    token_count_bpeish,
)
from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir

# DuckDB equivalents of our tokenizer/shingler, reused across oracles.
_SQL_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
)

# Shared DuckDB fragments of the stopword-vote language-ID heuristic:
# the scored CTE and the argmax CASE, reused by q33 and the q371
# confusion-matrix gate so both oracles are provably the same vote.
_LANGID_SCORED_CTE = f"""    WITH scored AS (
        SELECT doc_id, lang,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('the','a','and','of','to','in','is','it'))) AS INT) AS score_en,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('der','die','das','und','ein','eine','ist'))) AS INT) AS score_de,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('el','los','las','y','un','una','es'))) AS INT) AS score_es,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('le','la','les','et','un','une','est'))) AS INT) AS score_fr,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('的','是','在','了','我'))) AS INT) AS score_zh
        FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents)
    )"""

_LANGID_CASE = """CASE
             WHEN score_en >= score_de AND score_en >= score_es
              AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
             WHEN score_de >  score_en AND score_de >= score_es
              AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
             WHEN score_es >  score_en AND score_es >  score_de
              AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
             WHEN score_fr >  score_en AND score_fr >  score_de
              AND score_fr >  score_es AND score_fr >= score_zh THEN 'fr'
             ELSE 'zh'
           END"""


def _docs_with_copies(spark, sf_dir, limit=None, mutate=" zz qq"):
    """documents ∪ mutated copies (doc_id + 100000, text ⊕ suffix)."""
    d = load_table(spark, sf_dir, "documents")
    if limit is not None:
        d = d.filter(F.col("doc_id") < limit)
    copies = d.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(mutate))
    )
    return d.unionByName(copies)


@register(
    "q31_dedup_exact",
    """
    SELECT MIN(doc_id) AS doc_id, sha256(text) AS content_sha, COUNT(*) AS n_copies
    FROM (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 100000, text FROM documents
    )
    GROUP BY text
    """,
    doc="Exact dedup by content hash (L1): planted duplicate corpus "
    "collapses to one survivor (lowest id) per distinct text.",
)
def q31_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))
    survivors = exact_dedup(dup, ["text"], keep_order=[F.col("doc_id")])
    counts = dup.groupBy("text").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        survivors.join(counts, "text")
        .select(
            "doc_id", F.sha2("text", 256).alias("content_sha"), "n_copies"
        )
    )


@register(
    "q32_text_quality",
    f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_chars_calc,
           CAST(LEN(toks) AS INT)    AS n_tokens,
           -- scale-first rounds (q208 recipe): count quotients can
           -- tie on 5e-5 decimal boundaries that ROUND(x, 4)
           -- resolves differently per engine
           ROUND(10000 * (CAST(LIST_SUM(LIST_TRANSFORM(toks,
                 t -> LENGTH(t))) AS DOUBLE)
                 / GREATEST(LEN(toks), 1))) / 10000.0 AS avg_token_len,
           ROUND(10000 * (CAST(LEN(regexp_extract_all(text, '[^\\w\\s]'))
                 AS DOUBLE)
                 / GREATEST(LENGTH(text), 1))) / 10000.0 AS punct_ratio,
           ROUND(10000 * (CAST(LEN(LIST_FILTER(toks, t -> t IN
                 ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
                 / GREATEST(LEN(toks), 1))) / 10000.0 AS stopword_ratio
    FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    """,
    doc="Text quality scoring (L4): per-doc char/token counts, mean token "
    "length, punctuation ratio, stopword ratio — all JVM built-ins.",
)
def q32_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text_stats(d, "text").select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
    )


@register(
    "q33_language_id",
    f"""
{_LANGID_SCORED_CTE}
    SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
           {_LANGID_CASE} AS lang_pred,
           ({_LANGID_CASE} = lang) AS is_correct
    FROM scored
    """,
    doc="Language ID (L4): deterministic stopword-vote heuristic, argmax "
    "with fixed priority tie-break; oracle replicates the vote in SQL.",
)
def q33_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return language_id(d, "text").select(
        "doc_id",
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
        "score_zh",
        "lang_pred",
        (F.col("lang_pred") == F.col("lang")).alias("is_correct"),
    )


@register(
    "q34_token_count",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens,
           CAST(SUM(LEN(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS total_ws_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="Token counting (L4): whitespace + BPE-ish regex counts per source "
    "— corpus sizing aggregates.",
)
def q34_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_bpeish("text")).alias("total_tokens"),
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias(
                "total_ws_tokens"
            ),
        )
        .orderBy("source")
    )


@register(
    "q35_fingerprint",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(t) - 4, 1)),
                   i -> array_to_string(t[i:i+4], ' '))) AS s
        FROM toks
    )
    SELECT doc_id,
           LIST_MIN(LIST_TRANSFORM(s,
               x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)))
               AS fingerprint
    FROM sh
    """,
    doc="Document fingerprinting (L4): winnowing-style min-hash over word "
    "shingles, engine-independent md5 hash — the oracle recomputes every "
    "fingerprint value in DuckDB.",
)
def q35_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", fingerprint_minhash("text", shingle_size=5).alias("fingerprint")
    )


@register(
    "q36_minhash_lsh_neardup",
    f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 100000, text || ' zz qq' FROM documents WHERE doc_id < 100
    ),
    shingled AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 4, 1)),
                   i -> array_to_string(toks[i:i+4], ' '))) AS sh
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM base)
    )
    SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(a.sh, b.sh))
                     AS DOUBLE)
                     / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))))
                   / 1000000.0 AS jaccard
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
    doc="MinHash+LSH near-dup (L2): shingle -> 64-hash signature -> 16-band "
    "buckets -> candidate equi-join -> exact Jaccard verify. Oracle computes "
    "ALL >=0.5 pairs exactly; LSH miss probability at the planted ~0.97 "
    "similarity is ~1e-15, so the outputs coincide.",
)
def q36_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dup = _docs_with_copies(spark, sf_dir, limit=100)
    return minhash_lsh_pairs(
        dup, "doc_id", "text", num_hashes=64, bands=16, shingle_size=5,
        threshold=0.5,
    )


@register(
    "q37_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT qid, cid,
                      ROUND(list_dot_product(qv, cv)
                            / (SQRT(list_dot_product(qv, qv))
                               * SQRT(list_dot_product(cv, cv))), 6) AS cosine
               FROM q CROSS JOIN c WHERE qid != cid)
    SELECT vec_id, neighbor_id, cosine, rank FROM (
        SELECT qid AS vec_id, cid AS neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, cid) AS INT) AS rank
        FROM s
    ) WHERE rank <= 5
    """,
    doc="Exact top-k cosine similarity search (L3): broadcast queries x "
    "corpus scan, JVM zip_with/aggregate dot product, per-query top-k window.",
)
def q37_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        e.filter(F.col("vec_id") < 10), e, "vec_id", "vec_id", "embedding", k=5
    )


@register(
    "q38_embedding_neardup",
    """
    WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, label,
               LIST_TRANSFORM(embedding::DOUBLE[], x -> x * 1.5)
        FROM embeddings
    )
    SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
               ROUND(list_dot_product(a.v, b.v)
                     / (SQRT(list_dot_product(a.v, a.v))
                        * SQRT(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM base a JOIN base b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.95
    """,
    doc="Embedding-cosine near-dup (L2/L3): planted scaled copies (cosine=1) "
    "found by exact blocked pairing on label; q163 blocks on IVF cells "
    "instead.",
)
def q38_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    doubled = e.select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    copies = doubled.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    return embedding_neardup_pairs(
        doubled.unionByName(copies),
        "vec_id",
        "embedding",
        threshold=0.95,
        block_cols=["label"],
    )


@register(
    "q39_ngram_jaccard",
    f"""
    WITH shingled AS (
        SELECT doc_id, source,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents)
    )
    SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source,
               ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(a.sh, b.sh))
                     AS DOUBLE)
                     / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))))
                   / 1000000.0 AS jaccard
        FROM shingled a JOIN shingled b
          ON a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.02
    """,
    doc="n-gram Jaccard similarity (L2): exact 3-gram shingle Jaccard for "
    "all pairs within source blocks.",
)
def q39_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", block_cols=["source"], shingle_size=3, threshold=0.02
    )


@register(
    "q40_simhash_neardup",
    f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 100000, text || ' zz' FROM documents WHERE doc_id < 100
    ),
    toksd AS (SELECT doc_id, {_SQL_TOKS} AS t FROM base),
    sh AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
            generate_series(1, GREATEST(LEN(t) - 1, 1)),
            i -> array_to_string(t[i:i+1], ' ')))) AS s
        FROM toksd
    ),
    hashes AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hi,
               CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS lo
        FROM sh
    ),
    bits AS (
        SELECT doc_id, b.i AS i,
               SUM(CASE WHEN (CASE WHEN b.i < 32 THEN lo ELSE hi END
                              & (CAST(1 AS BIGINT) << (b.i % 32))) != 0
                        THEN 1 ELSE -1 END) AS vote
        FROM hashes
        CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS i) b
        GROUP BY doc_id, b.i
    ),
    sim AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0 THEN
                        CASE WHEN i = 63
                             THEN CAST(-9223372036854775808 AS HUGEINT)
                             ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT)
                        END ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup (L2): 64-bit simhash over md5-hashed shingles "
    "(engine-independent), pigeonhole chunk blocking, hamming<=3 verify. "
    "The oracle recomputes every simhash bit-for-bit in DuckDB and "
    "brute-forces all pairs — the blocked plan must match it exactly.",
)
def q40_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dup = _docs_with_copies(spark, sf_dir, limit=100, mutate=" zz")
    return simhash_pairs(dup, "doc_id", "text", max_hamming=3)


def _planted_queries(e: DataFrame, n: int = 10, eps: float = 0.01) -> DataFrame:
    """Deterministically perturbed copies of the first ``n`` corpus
    vectors (id + 10000): cosine(query, source) ~ 0.999 while the rest
    of the corpus sits near the random-noise floor (~0.37 max on this
    synthetic data), so the true nearest neighbor is unambiguous —
    the ANN analogue of q36's planted near-dup texts."""
    return e.filter(F.col("vec_id") < n).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.lit(eps) * F.sin(F.col("vec_id") * 64 + i),
        ).alias("embedding"),
    )


@register(
    "q41_ann_lsh",
    """
    SELECT CAST(10 AS BIGINT) AS n_queries, CAST(1 AS INT) AS k,
           TRUE AS recall_floor_met
    """,
    doc="Approximate nearest neighbors (L3 scale path): multi-table "
    "random-hyperplane LSH buckets -> candidate equi-join -> exact "
    "rerank. Gate = recall@1 report for planted near-identical "
    "queries vs the exact top-1 computed in the same query; the oracle "
    "asserts every planted neighbor is retrieved — a checked "
    "quantitative contract, not a rows-only smoke test.",
)
def q41_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.similarity import (
        ann_recall_report,
        cosine_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = _planted_queries(e)
    ann = ann_lsh_topk(
        q, e, "vec_id", "vec_id", "embedding",
        dim=64, k=1, num_planes=8, num_tables=6,
    )
    return ann_recall_report(ann, _exact_top1(spark, sf_dir), "vec_id",
                             k=1, floor=1.0)


_IVF_CACHE: dict[str, tuple] = {}
_EXACT_TOP1: dict[str, DataFrame] = {}


def _exact_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-1 ground truth for the planted queries, computed once
    per corpus and shared by both ANN recall gates (q41/q42)."""
    from python_tool_setup_spark.llm.similarity import cosine_topk

    if sf_dir not in _EXACT_TOP1:
        e = load_table(spark, sf_dir, "embeddings")
        _EXACT_TOP1[sf_dir] = pin(
            cosine_topk(_planted_queries(e), e, "vec_id", "vec_id", "embedding", k=1)
        )
    return _EXACT_TOP1[sf_dir]


@register(
    "q42_ivf_ann",
    """
    SELECT CAST(10 AS BIGINT) AS n_queries, CAST(1 AS INT) AS k,
           TRUE AS recall_floor_met
    """,
    doc="IVF ANN (L3): distributed k-means coarse quantizer (pyspark.ml), "
    "nprobe-cell search. Gate = recall@1 report for planted "
    "near-identical queries vs the exact top-1 (same tie-break); the "
    "oracle asserts every planted neighbor is retrieved.",
)
def q42_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.similarity import (
        ann_recall_report,
        ivf_index,
        ivf_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # IVF is build-once / query-many: cache the trained index per corpus
    # (the k-means fit is the fixed build cost, not per-query work)
    if sf_dir not in _IVF_CACHE:
        _IVF_CACHE[sf_dir] = ivf_index(e, "embedding", num_cells=8)
    assigned, model = _IVF_CACHE[sf_dir]
    q = _planted_queries(e)
    ann = ivf_topk(
        q, assigned, model, "vec_id", "vec_id", "embedding", k=1, nprobe=3
    )
    return ann_recall_report(ann, _exact_top1(spark, sf_dir), "vec_id",
                             k=1, floor=1.0)


@register(
    "q43_multimodal_metadata",
    """
    SELECT sha256(text) AS sha256,
           CAST(LENGTH(text) AS BIGINT) AS length,
           'image' AS media_type
    FROM documents WHERE doc_id < 50
    """,
    doc="Multimodal binary columns (L5): documents materialized as .png "
    "files, ingested via binaryFile, typed metadata (media_type from "
    "extension, sha256 of raw bytes) derived JVM-side.",
)
def q43_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from python_tool_setup_spark.llm.multimodal import (
        read_media,
        with_media_metadata,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media_dir = staging_dir("media_")
    for row in d.select("doc_id", "text").collect():  # 50 small local files
        with open(os.path.join(media_dir, f"doc_{row['doc_id']}.png"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    media = with_media_metadata(read_media(spark, media_dir, glob="*.png"))
    return media.select("sha256", "length", "media_type")


@register(
    "q44_multimodal_decode",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           1 AS width,
           CAST(octet_length(encode(text)) AS INT) AS height,
           1 AS n_channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_pixel_bytes,
           sha256(text) AS pixel_sha256
    FROM documents WHERE doc_id < 20 AND octet_length(encode(text)) > 0
    """,
    doc="Multimodal REAL decode (L5): each document's UTF-8 bytes are "
    "encoded as a genuine 1xN greyscale PNG (zlib-compressed, filtered "
    "scanlines) via the stdlib codec in llm/png.py, ingested with "
    "binaryFile, and decoded back inside mapInPandas workers. The "
    "oracle checks sha256 of the DECODED pixel buffer against sha256 "
    "of the original text — a byte-exact round-trip through real "
    "compression, not a digest fake.",
)
def q44_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from python_tool_setup_spark.llm.multimodal import (
        decode_image_stats,
        read_media,
    )
    from python_tool_setup_spark.llm.png import encode_png

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media_dir = staging_dir("media_dec_")
    for row in d.select("doc_id", "text").collect():  # 20 small local files
        raw = row["text"].encode("utf-8")
        if not raw:
            continue
        with open(os.path.join(media_dir, f"doc_{row['doc_id']}.png"), "wb") as f:
            f.write(encode_png(1, len(raw), raw, channels=1))
    media = read_media(spark, media_dir, glob="*.png")
    return decode_image_stats(media).select(
        F.regexp_extract("path", r"doc_(\d+)\.png", 1).cast("long").alias("doc_id"),
        "width",
        "height",
        "n_channels",
        "n_pixel_bytes",
        "pixel_sha256",
    )


@register(
    "q100_frame_sampling",
    """
    WITH d AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id < 30 AND length(text) > 0
          AND octet_length(encode(text)) = length(text)
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_index,
           CAST(i * 256 AS BIGINT) AS frame_offset,
           substr(sha256(substr(text, i * 256 + 1, 256)), 1, 16)
               AS frame_digest
    FROM d, UNNEST(generate_series(0,
        CAST(CEIL(length(text) / 256.0) AS INT) - 1)) AS t(i)
    """,
    doc="Frame-sampling plumbing (L5 video shape): each ASCII document's "
    "bytes staged as a .bin media file, 1->N frame rows emitted per "
    "256-byte stride via mapInPandas; the oracle recomputes every "
    "frame digest from the same byte ranges (ASCII => char==byte), so "
    "the 1->N batch shape is value-checked, not just counted.",
)
def q100_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from python_tool_setup_spark.llm.multimodal import read_media, sample_frames

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 30)
            & (F.length("text") > 0)
            & (F.octet_length("text") == F.length("text"))
        )
    )
    media_dir = staging_dir("frames_")
    for row in d.select("doc_id", "text").collect():  # 30 small local files
        with open(os.path.join(media_dir, f"doc_{row['doc_id']}.bin"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    frames = sample_frames(read_media(spark, media_dir, glob="*.bin"),
                           every_n_bytes=256)
    return frames.select(
        F.regexp_extract("path", r"doc_(\d+)\.bin", 1).cast("long").alias("doc_id"),
        "frame_index",
        "frame_offset",
        "frame_digest",
    )


@register(
    "q102_filtered_search",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE label < 5),
         s AS (SELECT qid, cid,
                      ROUND(list_dot_product(qv, cv)
                            / (SQRT(list_dot_product(qv, qv))
                               * SQRT(list_dot_product(cv, cv))), 6) AS cosine
               FROM q CROSS JOIN c WHERE qid != cid)
    SELECT vec_id, neighbor_id, cosine, rank FROM (
        SELECT qid AS vec_id, cid AS neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, cid) AS INT) AS rank
        FROM s
    ) WHERE rank <= 3
    """,
    doc="Filtered vector search (retrieval-with-filters): top-3 cosine "
    "neighbors restricted to a metadata predicate (label < 5), "
    "PRE-filtered so the predicate pushes down to the scan and search "
    "cost tracks the filtered subset — post-filtering the top-k would "
    "lose recall under selective filters. Same entry point drives the "
    "IVF-indexed variant at scale (filter the assigned corpus, probe "
    "cells of the subset only).",
)
def q102_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk(
        q, e.filter(F.col("label") < 5), "vec_id", "vec_id", "embedding", k=3
    )


@register(
    "q104_hybrid_retrieval",
    f"""
    WITH docs AS (
        SELECT d.doc_id, LIST_DISTINCT({_SQL_TOKS}) AS toks,
               e.embedding::DOUBLE[] AS vec
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    q AS (SELECT doc_id AS qid, toks AS qtoks, vec AS qv
          FROM docs WHERE qid < 5),
    s AS (
        SELECT qid, c.doc_id AS cid,
               ROUND(list_dot_product(qv, c.vec)
                     / (SQRT(list_dot_product(qv, qv))
                        * SQRT(list_dot_product(c.vec, c.vec))), 6) AS cosine,
               -- scale-first round (q208 class): int/int ratio with
               -- decimal-reachable scale-6 ties
               ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(qtoks, c.toks))
                     AS DOUBLE)
                     / GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(qtoks, c.toks))),
                                1))) / 1000000.0 AS lexical
        FROM q CROSS JOIN docs c WHERE qid != c.doc_id
    )
    SELECT doc_id, neighbor_id, cosine, lexical, score, rank FROM (
        SELECT qid AS doc_id, cid AS neighbor_id, cosine, lexical,
               -- scale-first: a 0.5/0.5 mix of two 6-dec values ties
               -- EXACTLY whenever the 7th digit is 5 (q208 class)
               ROUND(1000000 * (0.5 * cosine + 0.5 * lexical))
                   / 1000000.0 AS score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY ROUND(1000000 * (0.5 * cosine + 0.5 * lexical))
                             / 1000000.0 DESC,
                             cid) AS INT) AS rank
        FROM s
    ) WHERE rank <= 3
    """,
    doc="Hybrid retrieval: alpha*cosine + (1-alpha)*token-Jaccard over "
    "a documents-embeddings join (doc_id = vec_id) — the lexical leg "
    "catches keyword matches embedding geometry misses, the vector leg "
    "catches paraphrase. One broadcast(queries) x corpus scan, all "
    "JVM expressions; the oracle recomputes both legs and the fusion.",
)
def q104_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.similarity import hybrid_topk

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d["doc_id"] == e["vec_id"]).select(
        "doc_id", "text", "embedding"
    )
    q = joined.filter(F.col("doc_id") < 5)
    return hybrid_topk(q, joined, "doc_id", "doc_id", "embedding", "text", k=3)
