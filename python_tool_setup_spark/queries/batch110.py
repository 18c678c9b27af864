"""Round-5 gates, batch 110: segment-level dedup (q428 — repeated
SENTENCE-LEVEL segments across documents and the bytes a
line/paragraph dedup pass would reclaim: the RefinedWeb-style
granularity between q120's within-doc spans and q361's whole-doc
savings) and an order header/line reconciliation (q429 — the
double-entry audit of o_totalprice against the order's summed
line revenue: the header-vs-detail consistency check every
warehouse load should run, with the mismatch DISTRIBUTION, not
just a count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_MIN_SEG = 30  # segments shorter than this are boilerplate noise


# ---------------------------------------------------------------- q428
@register(
    "q428_segment_level_dedup",
    f"""
    WITH segs AS (
        SELECT doc_id, trim(seg) AS seg
        FROM (SELECT doc_id,
                     unnest(string_split(text, '.')) AS seg
              FROM documents)
        WHERE len(trim(seg)) >= {_MIN_SEG}
    ),
    uniq AS (
        SELECT seg, COUNT(*) AS occurrences,
               COUNT(DISTINCT doc_id) AS n_docs,
               len(seg) AS seg_len
        FROM segs GROUP BY seg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_segments,
           CAST(SUM(occurrences) AS BIGINT) AS total_segments,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_doc_segments,
           CAST(SUM(CAST(occurrences AS BIGINT) * seg_len) AS BIGINT)
               AS total_bytes,
           CAST(SUM(CAST(occurrences - 1 AS BIGINT) * seg_len) AS BIGINT)
               AS reclaimable_bytes,
           CAST(ROUND(1e6 * SUM(CAST(occurrences - 1 AS BIGINT) * seg_len)
               / SUM(CAST(occurrences AS BIGINT) * seg_len)) AS BIGINT)
               AS reclaim_share_micro
    FROM uniq
    """,
    doc="Segment-level dedup audit (sentence-ish segments split on "
    "'.', >=30 chars to skip boilerplate fragments; repeated "
    "segments counted ACROSS documents and priced in bytes — "
    "the RefinedWeb/CCNet line-dedup granularity that sits "
    "between q120's within-doc repeated spans and q361's "
    "whole-document savings, and the pass that actually "
    "removes navigation chrome from web corpora): one explode, "
    "one segment-domain groupBy, byte accounting as exact "
    "integer products. Scale: the segment groupBy is the "
    "dedup-family shuffle shape (q31/q119); segments hash-join "
    "scale like shingles.",
)
def q428_segment_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    segs = (
        d.select(
            "doc_id",
            F.explode(F.split("text", "\\.")).alias("seg0"),
        )
        .select("doc_id", F.trim(F.col("seg0")).alias("seg"))
        .where(F.length("seg") >= _MIN_SEG)
    )
    uniq = segs.groupBy("seg").agg(
        F.count("*").alias("occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    ).withColumn("seg_len", F.length("seg"))
    tot_bytes = F.sum(F.col("occurrences").cast("long") * F.col("seg_len"))
    rec_bytes = F.sum(
        (F.col("occurrences") - 1).cast("long") * F.col("seg_len")
    )
    return uniq.agg(
        F.count("*").cast("long").alias("distinct_segments"),
        F.sum("occurrences").cast("long").alias("total_segments"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("cross_doc_segments"),
        tot_bytes.cast("long").alias("total_bytes"),
        rec_bytes.cast("long").alias("reclaimable_bytes"),
        F.round(F.lit(1e6) * rec_bytes / tot_bytes)
        .cast("long")
        .alias("reclaim_share_micro"),
    )


# ---------------------------------------------------------------- q429
@register(
    "q429_header_line_reconciliation",
    """
    WITH lines AS (
        SELECT l_orderkey,
               SUM(CAST(ROUND(100 * l_extendedprice * (1 - l_discount)
                   * (1 + l_tax)) AS BIGINT)) AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    recon AS (
        SELECT o.o_orderkey,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS hdr_cents,
               COALESCE(l.line_cents, 0) AS line_cents,
               CASE WHEN l.l_orderkey IS NULL THEN 'no_lines'
                    WHEN ABS(CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                             - l.line_cents) * 100
                         <= CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                        THEN 'within_1pct'
                    WHEN CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                         > l.line_cents THEN 'header_high'
                    ELSE 'header_low' END AS bucket
        FROM orders o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(hdr_cents) AS BIGINT) AS hdr_cents,
           CAST(SUM(line_cents) AS BIGINT) AS line_cents,
           CAST(SUM(ABS(hdr_cents - line_cents)) AS BIGINT)
               AS abs_gap_cents
    FROM recon GROUP BY bucket ORDER BY bucket
    """,
    doc="Order header vs line-detail reconciliation (double-entry "
    "audit: o_totalprice against the order's summed "
    "price*(1-disc)*(1+tax) line revenue, bucketed into "
    "within-1%/header-high/header-low/no-lines with the "
    "absolute gap PRICED — q329 reconciles table versions, "
    "q381 checks keys exist; this checks the MONEY agrees, the "
    "audit that catches a tax-rule or load-order bug on day "
    "one): both sides cent-quantized per row/line before exact "
    "integer sums, the 1% tolerance as an integer "
    "cross-multiplication. Scale: one orderkey-colocated "
    "aggregate + join.",
)
def q429_header_line_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_cents = cents(
        F.col("l_extendedprice"), 1 - F.col("l_discount"), 1 + F.col("l_tax")
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("line_cents")
    )
    hdr = cents(F.col("o_totalprice"))
    recon = o.join(lines, lines.l_orderkey == o.o_orderkey, "left").select(
        hdr.alias("hdr_cents"),
        F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
        F.when(F.col("l_orderkey").isNull(), "no_lines")
        .when(
            F.abs(hdr - F.col("line_cents")) * 100 <= hdr, "within_1pct"
        )
        .when(hdr > F.col("line_cents"), "header_high")
        .otherwise("header_low")
        .alias("bucket"),
    )
    return (
        recon.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("hdr_cents").cast("long").alias("hdr_cents"),
            F.sum("line_cents").cast("long").alias("line_cents"),
            F.sum(F.abs(F.col("hdr_cents") - F.col("line_cents")))
            .cast("long")
            .alias("abs_gap_cents"),
        )
        .orderBy("bucket")
    )
