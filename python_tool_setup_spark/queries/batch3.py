"""Scale/corpus operator gates, batch 3 (q116-q120): zone-map file
skipping, PageRank link centrality, BM25 keyword retrieval, text
canonicalization dedup, repeated-span (exact substring) dedup.

Oracle conventions as everywhere: identical aliases both sides,
integer aggregates cast to BIGINT, doubles ROUNDed identically,
scalar-only output columns, deterministic tie-breaks on every ordered
selection.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.graph import pagerank, pagerank_oracle_sql
from python_tool_setup_spark.operators.zonemap import build_zone_map, pruned_read
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- q116
# sf_dir -> monthly-partitioned lineitem dir (one file per month)
_ZONED: dict[str, str] = {}

_Z_LO = datetime.datetime(1994, 3, 15)
_Z_HI = datetime.datetime(1994, 6, 10)


@register(
    "q116_zonemap_skipping",
    """
    WITH f AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS m,
               MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
        FROM lineitem GROUP BY 1
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        ROUND(SUM(l_quantity), 2) AS sum_qty,
        -- cent-quantized per row: order-free exact sum (q212 recipe)
        ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
            * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
            AS revenue,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM f
         WHERE mn <= TIMESTAMP '1994-06-10 00:00:00'
           AND mx >= TIMESTAMP '1994-03-15 00:00:00') AS files_read,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS files_total
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-03-15 00:00:00'
      AND l_shipdate <= TIMESTAMP '1994-06-10 00:00:00'
    """,
    doc="Zone-map data skipping (the Delta-stats / Iceberg-manifest "
    "pattern): lineitem is laid out one file per ship-month, a per-file "
    "min/max stats table is built in one distributed pass, and a "
    "93-day range scan reads ONLY the files whose range intersects — "
    "files_read vs files_total proves the skip, and the aggregate "
    "equals the full-scan answer exactly (the residual predicate "
    "reapplies after pruning). The oracle reconstructs the per-month "
    "file ranges relationally.",
)
def q116_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
    )
    layout = _ZONED.get(sf_dir)
    if layout is None:
        layout = staging_dir("zonemap_") + "/lineitem"
        # one task per month -> exactly one file per month directory
        (
            li.withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            .repartition("ship_month")
            .write.partitionBy("ship_month")
            .parquet(layout)
        )
        _ZONED[sf_dir] = layout
    zmap = build_zone_map(spark, layout, ["l_shipdate"])
    scan = pruned_read(spark, layout, zmap, "l_shipdate", _Z_LO, _Z_HI)
    assert scan.files_read < scan.files_total, "zone map pruned nothing"
    return scan.df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        # cent-quantized per row — order-free exact sum
        F.round(
            F.sum(
                cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
            ).cast("double")
            / 100,
            2,
        ).alias("revenue"),
    ).select(
        "n_rows",
        "sum_qty",
        "revenue",
        F.lit(scan.files_read).cast("bigint").alias("files_read"),
        F.lit(scan.files_total).cast("bigint").alias("files_total"),
    )


# ---------------------------------------------------------------- q117
_PR_EDGES = "SELECT l_orderkey % 997 AS src, l_partkey % 997 AS dst FROM lineitem"


@register(
    "q117_pagerank",
    pagerank_oracle_sql(_PR_EDGES, iterations=5, damping=0.85)
    + """
    SELECT node, ROUND(rank, 6) AS rank
    FROM final
    ORDER BY ROUND(rank, 6) DESC, node
    LIMIT 20
    """,
    doc="Fixed-iteration PageRank (5 rounds, d=0.85, dangling mass "
    "redistributed) over the order->part link graph; one node-keyed "
    "shuffle per round, lineage cut per round. The oracle unrolls the "
    "identical fixed point as chained CTEs; both engines round the "
    "rank vector to 12 decimals per iteration so float drift cannot "
    "compound. Output: top-20 nodes, deterministic (rank, node) order.",
)
def q117_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr("l_orderkey % 997 AS src", "l_partkey % 997 AS dst")
    )
    ranks = pagerank(edges, iterations=5, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------- q118
_BM25_QUERIES = [
    (1, "vector"), (1, "hash"), (1, "join"),
    (2, "stream"), (2, "window"), (2, "agg"),
    (3, "customer"), (3, "slow"), (3, "spark"),
]


@register(
    "q118_bm25_search",
    """
    WITH q(qid, term) AS (
        VALUES (CAST(1 AS BIGINT), 'vector'), (1, 'hash'), (1, 'join'),
               (2, 'stream'), (2, 'window'), (2, 'agg'),
               (3, 'customer'), (3, 'slow'), (3, 'spark')
    ),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'),
                   t -> t <> '')) AS term
        FROM documents
    ),
    postings AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dl),
    idf AS (
        SELECT term,
               ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM (SELECT term, COUNT(DISTINCT doc_id) AS df
              FROM postings GROUP BY term)
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT q.qid, p.doc_id,
               -- scale-first round (q208 recipe); idf is libm-bound,
               -- see the bm25_topk docstring for the residual floor
               ROUND(1000000 * SUM(idf.idf * (p.tf * 2.2)
                         / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avg_dl))))
                   / 1000000.0 AS score
        FROM postings p
        JOIN q ON q.term = p.term
        JOIN idf ON idf.term = p.term
        JOIN dl ON dl.doc_id = p.doc_id
        CROSS JOIN stats s
        GROUP BY q.qid, p.doc_id
    )
    SELECT qid, doc_id, score, rank FROM (
        SELECT qid, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 10
    """,
    doc="BM25 keyword retrieval (k1=1.2, b=0.75): inverted index with "
    "tf and document-frequency idf built in two shuffles, query terms "
    "and idf broadcast into the postings probe, top-10 per query with "
    "a deterministic (score, doc_id) tie-break. The lexical "
    "counterpart of the ANN paths in llm/similarity.py.",
)
def q118_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "qid long, term string")
    out = bm25_topk(docs, q, k=10)
    return out.select(
        "qid", "doc_id", "score", F.col("rank").cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------- q119
@register(
    "q119_normalized_dedup",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000,
               '  ' || translate(upper(text), 'A', 'Á') || ' '
        FROM documents WHERE doc_id % 9 = 0
    ),
    norm AS (
        SELECT doc_id,
               trim(regexp_replace(
                   translate(lower(text),
                             'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ',
                             'aaaaaaceeeeiiiinooooouuuuyy'),
                   '\\s+', ' ', 'g')) AS n
        FROM corpus
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(LENGTH(n) AS BIGINT) AS norm_len
    FROM norm
    GROUP BY n
    """,
    doc="Canonicalization dedup: every 9th document is re-planted "
    "upper-cased, accent-mangled, and whitespace-padded; the "
    "normalized key (lowercase, Latin-1 accent fold via an identical "
    "translate map in both engines, whitespace collapse) merges each "
    "variant with its original. Normalization is pure scan-stage JVM "
    "expression work — zero extra passes at scale.",
)
def q119_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.cleaning import normalized_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.translate(F.upper(F.col("text")), "A", "Á"),
            F.lit(" "),
        ).alias("text"),
    )
    return normalized_dedup(d.unionByName(variants))


# ---------------------------------------------------------------- q120
_BANNER = "zig zag quux corge grault garply waldo fred plugh xyzzy thud wibble"


@register(
    "q120_repeated_spans",
    f"""
    WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' ' || '{_BANNER}'
                    ELSE text END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS tk
        FROM corpus
    ),
    sh AS (
        SELECT doc_id, len(tk) AS n_tokens, u.p,
               array_to_string(tk[u.p + 1 : u.p + 8], ' ') AS s
        FROM toks, unnest(range(len(tk) - 7)) u(p)
        WHERE len(tk) >= 8
    ),
    dup AS (
        SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df
                       FROM sh GROUP BY s)
        WHERE df >= 2
    ),
    hits AS (
        SELECT doc_id, n_tokens, p, p + 7 AS e
        FROM sh WHERE s IN (SELECT s FROM dup)
    ),
    flagged AS (
        SELECT doc_id, n_tokens, p, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_end
        FROM hits
    ),
    islands AS (
        SELECT doc_id, n_tokens, p, e,
               SUM(CASE WHEN prev_end IS NULL OR p > prev_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, n_tokens, island,
               MIN(p) AS s0, MAX(e) AS e0
        FROM islands GROUP BY doc_id, n_tokens, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           -- scale-first round (q208 recipe): the count quotient can
           -- tie on a 5e-7 decimal boundary that ROUND(x, 6)
           -- resolves differently per engine
           ROUND(1000000 * (SUM(e0 - s0 + 1) / CAST(n_tokens AS DOUBLE)))
               / 1000000.0 AS dup_fraction
    FROM spans
    GROUP BY doc_id, n_tokens
    """,
    doc="Exact duplicated-span detection (Lee et al. substring dedup, "
    "re-expressed relationally): a 12-token banner is planted on every "
    "11th document; 8-token shingles occurring in >= 2 distinct docs "
    "mark duplicated positions, merged into maximal spans with one "
    "gaps-and-islands window pass. Work is proportional to postings, "
    "never all-pairs.",
)
def q120_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import repeated_spans

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" " + _BANNER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repeated_spans(d, shingle_len=8, min_docs=2)


# ---------------------------------------------------------------- q121
@register(
    "q121_temperature_resample",
    """
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    probs AS (
        SELECT lang,
               -- scale-first round (q208 recipe): keep_p is also the
               -- acceptance threshold, so a ROUND tie changes rows
               ROUND(1000000 * (pow(n, -0.5)
                     / MAX(pow(n, -0.5)) OVER ())) / 1000000.0 AS keep_p
        FROM counts
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           p.keep_p
    FROM documents d
    JOIN probs p USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < p.keep_p * 10000
    GROUP BY d.lang, p.keep_p
    """,
    doc="Temperature-scaled mixture resampling (T=2): per-language "
    "keep probability ∝ n^(1/T-1), normalized so the smallest "
    "language keeps 100% — the multilingual corpus-balancing rule, "
    "applied as a deterministic md5-bucket filter with the tiny "
    "language→p map broadcast. No shuffle touches the corpus; the "
    "only aggregation is the language histogram.",
)
def q121_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import temperature_resample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = temperature_resample(d, "lang", "doc_id", temperature=2.0)
    return kept.groupBy("lang", "keep_p").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_docs")
    ).select("lang", "kept_docs", "keep_p")


# ---------------------------------------------------------------- q122
@register(
    "q122_sequence_packing",
    """
    WITH toks AS (
        SELECT lang, doc_id,
               LEN(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS tok
        FROM documents
    ),
    pref AS (
        SELECT lang, doc_id, tok,
               COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS s
        FROM toks WHERE tok > 0
    )
    SELECT doc_id, lang,
           CAST(s // 256 AS BIGINT) AS seq_id,
           CAST(s % 256 AS BIGINT) AS seq_offset,
           CAST((s + tok - 1) // 256 AS BIGINT) AS end_seq_id,
           CAST((s + tok - 1) // 256 - s // 256 + 1 AS BIGINT) AS n_seqs
    FROM pref
    """,
    doc="Concat-and-chunk sequence packing for pretraining batches: "
    "documents concatenate per language in doc_id order and split "
    "into 256-token sequences; each document's boundary map (first "
    "sequence, offset within it, last sequence) comes from the same "
    "two-level prefix sum as shard packing — the oracle's naive "
    "single window proves the distributed formulation exact.",
)
def q122_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        )
        .cast("bigint")
        .alias("tok"),
    )
    packed = pack_sequences(
        d, "lang", "doc_id", "tok", seq_len=256, chunk_size=1000
    )
    return packed.select(
        "doc_id",
        "lang",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col("seq_offset").cast("bigint").alias("seq_offset"),
        F.col("end_seq_id").cast("bigint").alias("end_seq_id"),
        F.col("n_seqs").cast("bigint").alias("n_seqs"),
    )


# ---------------------------------------------------------------- q123
@register(
    "q123_interval_join",
    """
    WITH iv AS (
        SELECT o_orderkey,
               date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS s,
               date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) + 5 AS e
        FROM orders WHERE o_orderkey % 50 = 0
    ),
    pt AS (
        SELECT date_diff('day', TIMESTAMP '1970-01-01', l_shipdate) AS p,
               l_quantity
        FROM lineitem
    )
    SELECT iv.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           ROUND(SUM(pt.l_quantity), 2) AS sum_qty
    FROM iv JOIN pt ON pt.p BETWEEN iv.s AND iv.e
    GROUP BY iv.o_orderkey
    """,
    doc="Keyless interval-containment join via binning: every 50th "
    "order opens a 6-day window; lineitem ship dates join into the "
    "windows with NO equality key. Points land in one 7-day bin, "
    "intervals explode to the bins they overlap, and the join is a "
    "plain bin equi-join plus the exact BETWEEN residual — each pair "
    "meets in exactly one bin, so no dedup. The naive plan is a "
    "nested-loop cross product; this one shuffles each side once.",
)
def q123_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.asof import binned_interval_join

    epoch = "TIMESTAMP '1970-01-01'"
    iv = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .selectExpr(
            "o_orderkey",
            f"datediff(o_orderdate, {epoch}) AS s",
            f"datediff(o_orderdate, {epoch}) + 5 AS e",
        )
    )
    pt = _t(spark, sf_dir, "lineitem").selectExpr(
        f"datediff(l_shipdate, {epoch}) AS p", "l_quantity"
    )
    joined = binned_interval_join(pt, iv, "p", "s", "e", bin_width=7)
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------- q124
@register(
    "q124_global_ids",
    """
    WITH ids AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
                   AS global_id
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(global_id) AS BIGINT) AS min_id,
           CAST(MAX(global_id) AS BIGINT) AS max_id,
           CAST(SUM(global_id) AS BIGINT) AS sum_ids
    FROM ids
    GROUP BY lang
    """,
    doc="Distributed contiguous id assignment (zipWithIndex in the "
    "DataFrame API): global position = broadcast cumulative chunk "
    "counts + bounded within-chunk row_number, so ids are exactly "
    "ROW_NUMBER()-1 in doc_id order but no task ever holds more than "
    "one chunk — the single-partition ORDER BY window a naive "
    "formulation needs is the thing this avoids.",
)
def q124_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import assign_global_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    ids = assign_global_ids(d, "doc_id", chunk_size=100)
    return ids.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("global_id").cast("bigint").alias("min_id"),
        F.max("global_id").cast("bigint").alias("max_id"),
        F.sum("global_id").cast("bigint").alias("sum_ids"),
    )


# ---------------------------------------------------------------- q125
@register(
    "q125_image_phash_neardup",
    """
    WITH d AS (
        SELECT doc_id, substr(text, 1, 64) AS t
        FROM documents
        WHERE doc_id < 40 AND length(text) >= 64
          AND octet_length(encode(text)) = length(text)
    ),
    corpus AS (
        SELECT doc_id, t, 0 AS var FROM d
        UNION ALL
        SELECT doc_id + 400000, t, 1 FROM d
    ),
    px AS (
        SELECT doc_id,
               u.i,
               ascii(substr(t, u.i + 1, 1))
                 + CASE WHEN var = 1 AND u.i = 0 THEN 1
                        WHEN var = 1 AND u.i = 1 THEN -1
                        ELSE 0 END AS code
        FROM corpus, unnest(range(64)) u(i)
    ),
    m AS (SELECT doc_id, SUM(code) / 64.0 AS mean FROM px GROUP BY doc_id),
    h AS (
        SELECT px.doc_id,
               SUM(CASE WHEN code > mean AND i < 32
                        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS hi,
               SUM(CASE WHEN code > mean AND i >= 32
                        THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS lo
        FROM px JOIN m USING (doc_id)
        GROUP BY px.doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
    """,
    doc="Image near-dup via 64-bit average-hash (the LAION-style "
    "image dedup shape): each document's first 64 bytes become an 8x8 "
    "greyscale PNG (plus a mean-preserving 2-byte-perturbed variant), "
    "REAL-decoded in mapInPandas workers, aHashed, and paired by "
    "3-band blocking + hamming <= 2 — pigeonhole-COMPLETE for the "
    "threshold, never all-pairs. The oracle recomputes the hash from "
    "the text bytes and pairs by EXACT all-pairs hamming (feasible at "
    "oracle scale), so it proves decode + hash + blocking recall "
    "end-to-end: any pair the banding missed would fail the gate.",
)
def q125_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from python_tool_setup_spark.llm.multimodal import (
        ahash64,
        image_neardup_pairs,
        read_media,
    )
    from python_tool_setup_spark.llm.png import encode_png

    d = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 40)
            & (F.length("text") >= 64)
            & (F.octet_length("text") == F.length("text"))
        )
        .select("doc_id", "text")
    )
    media_dir = staging_dir("phash_")
    for row in d.collect():  # <=40 tiny fixture files, test staging only
        px = bytearray(row["text"].encode("ascii")[:64])
        with open(os.path.join(media_dir, f"img_{row['doc_id']}.png"), "wb") as f:
            f.write(encode_png(8, 8, bytes(px), channels=1))
        var = bytearray(px)
        var[0] += 1
        var[1] -= 1
        vid = row["doc_id"] + 400000
        with open(os.path.join(media_dir, f"img_{vid}.png"), "wb") as f:
            f.write(encode_png(8, 8, bytes(var), channels=1))
    media = read_media(spark, media_dir, glob="*.png")
    hashes = ahash64(media).select(
        F.regexp_extract("path", r"img_(\d+)\.png", 1).cast("long").alias("doc_id"),
        "hi",
        "lo",
    )
    return image_neardup_pairs(hashes, id_col="doc_id", max_hamming=2)
