"""Round-4 gates, batch 40: file-level bloom point-lookup pruning
(q285 — the data-skipping regime zone maps can't serve: point lookups
on keys whose per-file ranges all overlap) and the small-files
compaction advisor (q286 — q61's OPTIMIZE driven by measured layout,
not by fiat).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.staging import local_rows_df, staging_dir
from python_tool_setup_spark.tables import load_table

_BLOOM_LAYOUT: dict[str, str] = {}


# ---------------------------------------------------------------- q285
@register(
    "q285_file_bloom_pruning",
    """
    WITH keys AS (
        SELECT MIN(l_orderkey) AS k FROM lineitem
        UNION ALL
        SELECT MAX(l_orderkey) FROM lineitem
    )
    SELECT k.k AS orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           -- per-row integer cents (the q212 recipe): row-local
           -- doubles are bit-identical across engines, only the SUM
           -- order isn't — the integer sum is order-free and exact
           ROUND(CAST(SUM(CAST(ROUND(100 * (l.l_extendedprice
                 * (1 - l.l_discount))) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS revenue,
           TRUE AS pruned
    FROM keys k JOIN lineitem l ON l.l_orderkey = k.k
    GROUP BY k.k ORDER BY orderkey
    """,
    doc="File-level BLOOM pruning (operators/bloom.py::"
    "build_file_bloom) — the data-skipping regime q116's zone maps "
    "cannot serve: lineitem is laid out one file per ship-month, so "
    "every file's l_orderkey [min, max] spans nearly the whole key "
    "domain and min/max stats prune NOTHING for a point lookup; a "
    "per-file bloom over l_orderkey answers 'can this key be in "
    "this file?' instead. An order ships within a few months, so "
    "its rows live in a handful of files — the gate looks up the "
    "MIN and MAX orderkeys through the index, proves files_read < "
    "files_total (pinned TRUE; bloom false positives only ADD "
    "reads, never lose rows), and returns each order's exact row "
    "count and revenue, which the oracle states from the raw "
    "table. This is Parquet's column-bloom / Delta's bloom-index "
    "pattern as an explicit, testable operator; the index build is "
    "one grouped pass and the index itself is bounded metadata "
    "persisted beside the table at scale.",
)
def q285_file_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.bloom import (
        bloom_pruned_point_read,
        build_file_bloom,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    layout = _BLOOM_LAYOUT.get(sf_dir)
    if layout is None:
        layout = staging_dir("filebloom_") + "/lineitem"
        (
            li.withColumn("m", F.date_format("l_shipdate", "yyyy-MM"))
            .repartition("m")
            .write.partitionBy("m")
            .parquet(layout)
        )
        _BLOOM_LAYOUT[sf_dir] = layout
    index = build_file_bloom(spark, layout, "l_orderkey")
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    out = []
    for key in (int(lo), int(hi)):
        df, files_read, files_total = bloom_pruned_point_read(
            spark, index, "l_orderkey", key
        )
        # cent-quantized per row (q212 recipe): the per-key revenue sum
        # is order-free integer cents, so it can't flip on a .005
        # knife edge between engines.
        cents_col = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents_col).cast("double") / 100, 2).alias("rev"),
        ).collect()[0]
        out.append(
            (key, int(row["n"]), float(row["rev"]), files_read < files_total)
        )
    return local_rows_df(
        spark,
        out,
        "orderkey long, n_rows long, revenue double, pruned boolean",
    ).orderBy("orderkey")


# ---------------------------------------------------------------- q286
@register(
    "q286_small_files_advisor",
    """
    SELECT event_type,
           TRUE AS needed_compaction,
           CAST(1 AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Small-files compaction ADVISOR (the measurement that should "
    "drive q61's OPTIMIZE instead of blanket rewrites): a partitioned "
    "events table is deliberately written through a 12-way "
    "repartition — every partition directory lands ~12 fragment "
    "files, the classic streaming-ingest layout disease — then the "
    "advisor lists each partition's file count (a directory listing, "
    "no data read) and flags partitions over the fragment threshold; "
    "ONLY flagged partitions are compacted (per-directory single-file "
    "rewrite). The gate returns per partition: the advisor's verdict, "
    "the post-compaction file count (1), and the row count — which "
    "the oracle pins from the raw table, proving compaction lost "
    "nothing. At 100 TB the advisor is an O(partitions) metadata "
    "scan and compaction cost is proportional to FLAGGED bytes only.",
)
def q286_small_files_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = staging_dir("smallfiles_")
    (
        ev.repartition(12)
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(root)
    )

    def fragment_files(d: str) -> list[str]:
        return [
            f
            for f in os.listdir(os.path.join(root, d))
            if f.endswith(".parquet")
        ]

    parts = [d for d in sorted(os.listdir(root)) if d.startswith("event_type=")]
    advised = {d: len(fragment_files(d)) > 4 for d in parts}
    for d, flagged in advised.items():
        if flagged:  # per-directory single-file rewrite
            sub = os.path.join(root, d)
            df = spark.read.parquet(sub)
            tmp = staging_dir("smallfiles_c_")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            import shutil

            shutil.rmtree(sub)
            shutil.copytree(tmp, sub)
    rows = []
    for d in parts:
        etype = d.split("=", 1)[1]
        n_rows = spark.read.parquet(os.path.join(root, d)).count()
        rows.append(
            (etype, advised[d], len(fragment_files(d)), n_rows)
        )
    return local_rows_df(
        spark,
        rows,
        "event_type string, needed_compaction boolean, "
        "files_after long, n_rows long",
    ).orderBy("event_type")
