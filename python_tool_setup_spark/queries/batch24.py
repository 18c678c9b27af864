"""Round-3 gates, batch 24: physical-layout I/O levers and scan-speed
media/text processing — globally sorted table write via range
repartitioning (q230: per-file min/max ranges become DISJOINT, which
is what makes footer-stats skipping and zone maps actually prune),
small-files read coalescing (q231: the scan packs many tiny files
into few tasks), real image resize on decoded PNG pixels (q232,
byte-exact arithmetic oracle), and markdown stripping (q233, fused
codegen regexp chain). With q61 (compaction), q62/q80 (clustering),
q116 (zone-map skipping), and q199 (codecs) this completes the
storage-layout story.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q230
@register(
    "q230_global_sorted_write",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           TRUE AS ranges_disjoint
    FROM orders
    """,
    doc="Globally sorted table write: repartitionByRange on the sort "
    "key (sampled range boundaries -> range-partitioned exchange) + "
    "sortWithinPartitions, so the written files carry DISJOINT, "
    "ordered min/max ranges — verified from the actual parquet "
    "footers via DuckDB's parquet_metadata. This layout is the "
    "prerequisite that makes footer-stats skipping (q116) prune: a "
    "point or range predicate then touches one file instead of all "
    "of them, where an unsorted write smears every value range "
    "across every file. The sort is per-partition (no global "
    "single-task sort); range boundaries come from Spark's sampling, "
    "exactly how a 100 TB sorted table is laid down. Row count and "
    "sum pin lossless round-trip; the boolean pins disjointness.",
)
def q230_global_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    o = load_table(spark, sf_dir, "orders")
    staged = staging_dir("sorted_write_")
    (
        o.select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(staged)
    )
    con = duckdb.connect()
    stats = con.execute(
        f"""
        SELECT file_name,
               MIN(stats_min_value::DOUBLE) AS lo,
               MAX(stats_max_value::DOUBLE) AS hi
        FROM parquet_metadata('{staged}/*.parquet')
        WHERE path_in_schema = 'o_totalprice'
        GROUP BY file_name ORDER BY lo
        """
    ).fetchall()
    con.close()
    disjoint = all(
        stats[i][2] <= stats[i + 1][1] for i in range(len(stats) - 1)
    )
    assert len(stats) >= 2 and disjoint, f"ranges overlap: {stats}"
    return (
        spark.read.parquet(staged)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
        )
        .select("n_rows", "total", F.lit(disjoint).alias("ranges_disjoint"))
    )


# ---------------------------------------------------------------- q231
_N_SMALL_FILES = 48


@register(
    "q231_small_files_coalesced_scan",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           CAST({_N_SMALL_FILES} AS BIGINT) AS n_files,
           TRUE AS scan_coalesced
    FROM customer
    """,
    doc="Small-files read coalescing: the same table written as "
    f"{_N_SMALL_FILES} tiny files (the classic ingest pathology — "
    "per-trigger streaming sinks, over-partitioned writers) is "
    "scanned back in a handful of tasks, NOT one task per file: "
    "Spark packs splits up to maxPartitionBytes, charging "
    "openCostInBytes per file, so scan parallelism follows data "
    "volume instead of file count. At 100 TB the difference is "
    "millions of 4 KB-task launches vs thousands of right-sized "
    "ones (compaction, q61, remains the durable fix; this gate pins "
    "the read-side mitigation). Asserts scan partitions <= half the "
    "file count and the data round-trips losslessly.",
)
def q231_small_files_coalesced_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "customer")
    staged = staging_dir("small_files_")
    # one row-group-sized file per slice: worst-case tiny-file layout
    n.repartition(_N_SMALL_FILES).write.mode("overwrite").parquet(staged)
    n_files = sum(
        1 for f in os.listdir(staged)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    back = spark.read.parquet(staged)
    n_tasks = back.rdd.getNumPartitions()
    coalesced = n_tasks <= n_files // 2
    assert coalesced, f"{n_files} files scanned as {n_tasks} tasks"
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_keys"),
    ).select(
        "n_rows",
        "n_keys",
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.lit(coalesced).alias("scan_coalesced"),
    )


# ---------------------------------------------------------------- q232
_RS_W = 16          # staged image width (pixels, 1 channel)
_RS_F = 2           # downsample factor


@register(
    "q232_image_resize",
    f"""
    WITH d AS (
        SELECT doc_id, substr(text, 1, ({_RS_W} * (length(text) // {_RS_W})))
                   AS px
        FROM documents
        WHERE doc_id < 20 AND length(text) >= {2 * _RS_W}
          AND octet_length(encode(text)) = length(text)
    )
    SELECT doc_id,
           CAST({_RS_W} // {_RS_F} AS INT) AS out_width,
           -- numpy's arr[::f] keeps ceil(h / f) rows
           CAST(((length(px) // {_RS_W}) + {_RS_F} - 1) // {_RS_F} AS INT)
               AS out_height,
           sha256(array_to_string(list_transform(
               generate_series(0,
                   ({_RS_W} // {_RS_F})
                     * (((length(px) // {_RS_W}) + {_RS_F} - 1) // {_RS_F})
                     - 1),
               k -> substr(px,
                   {_RS_F * _RS_W} * (k // ({_RS_W} // {_RS_F}))
                     + {_RS_F} * (k % ({_RS_W} // {_RS_F})) + 1, 1)), ''))
               AS resized_sha256
    FROM d
    """,
    doc="Real image RESIZE (L5): ASCII document bytes are encoded as "
    f"genuine {_RS_W}-wide greyscale PNGs (zlib + filtered scanlines, "
    "llm/png.py), decoded back inside mapInPandas workers, and "
    f"nearest-neighbor downsampled {_RS_F}x on both axes with a numpy "
    "stride view — the thumbnail stage of a multimodal training "
    "pipeline, shuffle-free at scan parallelism. The oracle "
    "recomputes the EXACT resized buffer arithmetically: output "
    "pixel k maps to input byte 2*W*(k // (W/2)) + 2*(k % (W/2)), "
    "and the sha256 of that arithmetic reconstruction must equal the "
    "sha256 of the decode->stride->tobytes pipeline (ASCII => "
    "char == byte). Real codec, real resize math, byte-exact check.",
)
def q232_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.multimodal import read_media, resize_nearest
    from python_tool_setup_spark.llm.png import encode_png

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 20)
            & (F.length("text") >= 2 * _RS_W)
            & (F.octet_length("text") == F.length("text"))
        )
        .select("doc_id", "text")
    )
    media_dir = staging_dir("media_resize_")
    for row in d.collect():  # <=20 small local files, gate staging
        raw = row["text"].encode("utf-8")
        rows_n = len(raw) // _RS_W
        with open(
            os.path.join(media_dir, f"doc_{row['doc_id']}.png"), "wb"
        ) as f:
            f.write(
                encode_png(_RS_W, rows_n, raw[: _RS_W * rows_n], channels=1)
            )
    media = read_media(spark, media_dir, glob="*.png")
    return resize_nearest(media, factor=_RS_F).select(
        F.regexp_extract("path", r"doc_(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "out_width",
        "out_height",
        "resized_sha256",
    )


# ---------------------------------------------------------------- q233
@register(
    "q233_markdown_strip",
    r"""
    WITH md AS (
        SELECT doc_id,
               '# Title' || chr(10) || '**' || substr(text, 1, 30)
                 || '** see [' || substr(text, 31, 10)
                 || '](http://example.com/x) and `'
                 || substr(text, 41, 15) || '`' AS m
        FROM documents
    ),
    clean AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(m,
                       '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
                       '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
                       '(?m)^#{1,6}[ \t]+', '', 'g'),
                       '\*{1,3}([^*]*)\*{1,3}', '\1', 'g'),
                       '`([^`]*)`', '\1', 'g') AS plain
        FROM md
    )
    SELECT doc_id, CAST(length(plain) AS BIGINT) AS n_chars,
           md5(plain) AS plain_md5
    FROM clean
    """,
    doc="Markdown stripping (the web-corpus cleaning step before "
    "quality scoring / dedup — markdown markers otherwise pollute "
    "shingles and token counts): images and links collapse to anchor "
    "text, ATX headers drop their prefix, emphasis and inline-code "
    "markers vanish — a fused regexp_replace chain that runs inside "
    "whole-stage codegen at scan speed, no Python. Each document is "
    "deterministically wrapped in markdown structure in-query (both "
    "engines build the identical string), then both engines run the "
    "identical automata; md5 of the cleaned text pins exact parity. "
    "Complements q165 (HTML strip) and q109 (boilerplate removal).",
)
def q233_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.cleaning import strip_markdown

    d = load_table(spark, sf_dir, "documents")
    md = d.select(
        "doc_id",
        F.concat(
            F.lit("# Title"),
            F.lit("\n"),
            F.lit("**"),
            F.substring("text", 1, 30),
            F.lit("** see ["),
            F.substring("text", 31, 10),
            F.lit("](http://example.com/x) and `"),
            F.substring("text", 41, 15),
            F.lit("`"),
        ).alias("m"),
    )
    return md.select("doc_id", strip_markdown("m").alias("plain")).select(
        "doc_id",
        F.length("plain").cast("bigint").alias("n_chars"),
        F.md5("plain").alias("plain_md5"),
    )
