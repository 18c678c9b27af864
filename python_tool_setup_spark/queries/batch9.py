"""Round-3 gates, batch 9: scan-metadata lineage columns (q168),
nested-struct surgery (q169), MapType functions (q170), sentence
segmentation (q171), feature hashing (q172), hyperlink extraction +
degree stats (q173), grouping_id-labelled grouping sets (q174), and
BPE-style adjacent-pair counting (q175).

Oracle conventions as everywhere: identical aliases both sides,
integer aggregates cast to BIGINT, doubles ROUNDed identically,
engine-independent md5 hashing where a hash feeds the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q168
@register(
    "q168_file_metadata",
    """
    SELECT 'documents.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS size_ok
    FROM documents
    """,
    doc="Hidden scan-metadata columns (_metadata.file_name / file_size "
    "/ file_modification_time): every row is attributed to the "
    "physical file it was read from — the lineage/debugging primitive "
    "for 100 TB tables (which input file produced this bad row? which "
    "files feed this partition?). Grouped per file with a sanity check "
    "that the reported file_size is positive; the fixture layout is "
    "one file per table, which the oracle pins by name. The metadata "
    "struct is populated by the scan itself — no extra pass, no UDF.",
)
def q168_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("_metadata.file_name").alias("file_name"),
                 F.col("_metadata.file_size").alias("fsize"))
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.min("fsize") > 0).alias("size_ok"),
        )
    )


# ---------------------------------------------------------------- q169
@register(
    "q169_nested_struct_surgery",
    """
    SELECT o_orderkey,
           o_orderstatus AS status,
           ROUND(o_totalprice * 2, 2) AS gross,
           'v2' AS schema_tag
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="Nested-struct surgery (withField / dropFields): order rows "
    "are packed into a struct column, then migrated in place — a new "
    "field added (gross = 2x price; an FP-exact factor so both "
    "engines round identically), a field dropped (the "
    "priority), a tag stamped — without ever exploding the struct to "
    "top-level columns and rebuilding it. This is the schema-migration "
    "idiom for deeply nested 100 TB event tables, where a full "
    "unpack/repack of every leaf is both verbose and optimizer-"
    "opaque. Output is the flattened migrated struct; the oracle "
    "computes the surviving fields directly.",
)
def q169_nested_struct_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("payload"),
    )
    migrated = packed.withColumn(
        "payload",
        F.col("payload")
        .withField("gross", F.round(F.col("payload.price") * 2, 2))
        .withField("schema_tag", F.lit("v2"))
        .dropFields("priority", "price"),
    )
    return migrated.select(
        "o_orderkey",
        F.col("payload.status").alias("status"),
        F.col("payload.gross").alias("gross"),
        F.col("payload.schema_tag").alias("schema_tag"),
    )


# ---------------------------------------------------------------- q170
@register(
    "q170_map_functions",
    """
    WITH per_type AS (
        SELECT user_id, event_type, SUM(value) AS total
        FROM events WHERE user_id < 50
        GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_types,
           ROUND(COALESCE(MAX(CASE WHEN event_type = 'click' THEN total END),
                          -1.0), 2) AS click_total,
           ROUND(COALESCE(SUM(CASE WHEN total > 50 THEN total END), 0.0), 2)
               AS big_total
    FROM per_type GROUP BY user_id
    """,
    doc="MapType surface: per-user event totals pivoted into a "
    "map<event_type, sum> with map_from_entries, then queried with "
    "map_keys (cardinality), element_at (point lookup with NULL-safe "
    "default), and map_filter + higher-order aggregation (total over "
    "entries whose value exceeds a threshold). Maps are the schema "
    "tool for ragged per-entity attributes that would otherwise force "
    "thousands of sparse columns; everything here is JVM map "
    "expressions over one shuffle. The oracle computes the same "
    "numbers relationally with FILTERed aggregates.",
)
def q170_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.sum("value").alias("total")
    )
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "total")))
        ).alias("totals")
    )
    big = F.map_filter("totals", lambda k, v: v > 50)
    return as_map.select(
        "user_id",
        F.size(F.map_keys("totals")).alias("n_types"),
        F.round(
            F.coalesce(F.element_at("totals", F.lit("click")), F.lit(-1.0)), 2
        ).alias("click_total"),
        F.round(
            F.aggregate(
                F.map_values(big), F.lit(0.0), lambda acc, x: acc + x
            ),
            2,
        ).alias("big_total"),
    )


# ---------------------------------------------------------------- q171
@register(
    "q171_sentence_segmentation",
    """
    WITH segs AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split_regex(text, '[.!?]+'),
                                  s -> trim(s)),
                   s -> s <> '') AS sentences
        FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           CAST(len(sentences) AS INT) AS n_sentences,
           -- scale-first round (q208 recipe): decimal-reachable ties
           ROUND(10000 * (CASE WHEN len(sentences) = 0 THEN 0.0 ELSE
               list_sum(list_transform(sentences,
                   s -> CAST(len(list_filter(
                        string_split_regex(s, '\\s+'), t -> t <> ''))
                        AS DOUBLE)))
               / len(sentences) END)) / 10000.0 AS avg_sentence_tokens
    FROM segs
    """,
    doc="Sentence segmentation (the unit-of-text primitive under "
    "sequence packing, contamination windows, and sentence-level "
    "dedup): documents split on terminal punctuation runs, trimmed, "
    "empties dropped, with per-document sentence counts and mean "
    "tokens per sentence — entirely JVM split/filter/transform "
    "lambdas in the scan stage (RE2-safe pattern, no lookbehind, so "
    "the identical regex runs on both engines). At 100 TB this "
    "composes with q83's chunker: segment -> pack sentences into "
    "windows instead of splitting mid-sentence.",
)
def q171_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sentences = F.filter(
        F.transform(F.split("text", "[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    tok_n = lambda s: F.size(  # noqa: E731
        F.filter(F.split(s, r"\s+"), lambda t: t != "")
    ).cast("double")
    d = d.select("doc_id", sentences.alias("sentences"))
    return d.select(
        "doc_id",
        F.size("sentences").alias("n_sentences"),
        # scale-first round: see the oracle comment
        (
            F.round(
                10000
                * F.when(F.size("sentences") == 0, F.lit(0.0)).otherwise(
                    F.aggregate(
                        F.transform("sentences", tok_n),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / F.size("sentences")
                )
            )
            / 10000.0
        ).alias("avg_sentence_tokens"),
    )


# ---------------------------------------------------------------- q172
_FH_BUCKETS = 1024


@register(
    "q172_feature_hashing",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '\\s+'), t -> t <> ''))
                   AS tok
        FROM documents WHERE doc_id < 300
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT
                    % {_FH_BUCKETS} AS BIGINT) AS bucket
        FROM toks
    ),
    counts AS (
        SELECT doc_id, bucket, COUNT(*) AS cnt
        FROM hashed GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(bucket * cnt) AS BIGINT) AS feature_checksum
    FROM counts GROUP BY doc_id
    """,
    doc="Feature hashing (the HashingTF shape: token -> fixed-dim "
    f"bucket via hash % {_FH_BUCKETS}, counts per bucket = the sparse "
    "feature vector fed to linear quality classifiers at corpus "
    "scale): built as explode -> md5-bucket -> two-level groupBy, so "
    "the vector dimensionality is fixed regardless of vocabulary "
    "size and no vocabulary broadcast exists at all. md5 is the "
    "engine-independent hash (q35/q40 precedent) so the DuckDB "
    "oracle reproduces the exact buckets; per-doc output is the "
    "bucket count and a position-weighted checksum over the sparse "
    "vector.",
)
def q172_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import md5_hash32
    from python_tool_setup_spark.llm.text import tokenize

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    hashed = toks.select(
        "doc_id", (md5_hash32("tok") % _FH_BUCKETS).alias("bucket")
    )
    counts = hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("bucket") * F.col("cnt")).cast("bigint").alias(
            "feature_checksum"
        ),
    )


# ---------------------------------------------------------------- q173
@register(
    "q173_link_extraction",
    """
    WITH pages AS (
        SELECT doc_id,
               '<html><body><a href="/d/' || ((doc_id * 7 + 1) % 400)
               || '">x</a><p>' || substr(text, 1, 50)
               || '</p><a href="/d/' || ((doc_id * 13 + 2) % 400)
               || '">y</a><a href="/d/' || ((doc_id * 7 + 1) % 400)
               || '">x again</a></body></html>' AS html
        FROM documents WHERE doc_id < 400
    ),
    links AS (
        SELECT doc_id AS src,
               CAST(regexp_extract(u, '/d/([0-9]+)', 1) AS BIGINT) AS dst
        FROM pages, unnest(regexp_extract_all(html,
                           'href="([^"]*)"', 1)) AS t(u)
    ),
    edges AS (SELECT DISTINCT src, dst FROM links)
    SELECT dst,
           CAST(COUNT(*) AS BIGINT) AS in_degree
    FROM edges GROUP BY dst
    HAVING COUNT(*) >= 3
    """,
    doc="Hyperlink extraction -> link graph (the front half of q117's "
    "PageRank: raw HTML -> href targets via regexp_extract_all -> "
    "explode -> distinct edge list -> degree aggregation): pages are "
    "synthesized in-query with arithmetic link targets (both engines "
    "see identical bytes), anchors extracted including duplicate "
    "hrefs that must collapse, and nodes with in-degree >= 3 "
    "reported. One scan-stage extraction, one distinct, one "
    "aggregate — exactly the crawl-graph shape at web scale.",
)
def q173_link_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    html = F.concat(
        F.lit('<html><body><a href="/d/'),
        (F.col("doc_id") * 7 + 1) % 400,
        F.lit('">x</a><p>'),
        F.substring("text", 1, 50),
        F.lit('</p><a href="/d/'),
        (F.col("doc_id") * 13 + 2) % 400,
        F.lit('">y</a><a href="/d/'),
        (F.col("doc_id") * 7 + 1) % 400,
        F.lit('">x again</a></body></html>'),
    )
    pages = d.select(F.col("doc_id").alias("src"), html.alias("html"))
    links = pages.select(
        "src",
        F.explode(
            F.regexp_extract_all("html", F.lit('href="([^"]*)"'), F.lit(1))
        ).alias("u"),
    ).select(
        "src",
        F.regexp_extract("u", "/d/([0-9]+)", 1).cast("bigint").alias("dst"),
    )
    edges = links.distinct()
    return (
        edges.groupBy("dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("in_degree"))
        .filter(F.col("in_degree") >= 3)
    )


# ---------------------------------------------------------------- q174
@register(
    "q174_grouping_id",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
    doc="grouping_id-labelled GROUPING SETS (completes q09-q11): the "
    "same multi-granularity aggregate, but each output row carries "
    "the bitmask saying WHICH subtotal level produced it — the only "
    "reliable way to tell a real NULL group value from a rollup "
    "placeholder when the grouped columns are themselves nullable. "
    "Single hash-aggregate over the expanded grouping-set projection, "
    "identical to the plain rollup plan.",
)
def q174_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["o_orderpriority"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total",
        )
    )


# ---------------------------------------------------------------- q175
@register(
    "q175_bpe_pair_counts",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS t
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1])) AS pair
        FROM toks WHERE len(t) >= 2
    ),
    counts AS (
        SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, CAST(n AS BIGINT) AS n
    FROM (SELECT pair, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk
          FROM counts)
    WHERE rk <= 20
    """,
    doc="BPE merge-candidate counting (the inner loop of byte-pair-"
    "encoding vocabulary training, distributed): adjacent token "
    "pairs formed with one zip_with over the shifted token array "
    "(no positional explode of both sides), counted corpus-wide, "
    "top-20 most frequent pairs reported — each top-k round of this "
    "IS one BPE merge selection. The pair formation is scan-stage; "
    "the count is one map-side-combined shuffle; the top-k is "
    "TakeOrderedAndProject, so nothing materializes the full pair "
    "vocabulary on any single node.",
)
def q175_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.text import tokenize
    from python_tool_setup_spark.sources.files import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokenize("text").alias("t")).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), "pair")
        .limit(20)
        .select("pair", F.col("n").cast("bigint").alias("n"))
    )
