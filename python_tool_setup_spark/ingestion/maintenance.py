"""Layout maintenance: compaction + Z-order-style clustering.

Parity: the reference issues Delta ``OPTIMIZE [ZORDER BY (...)]`` after
writes (framework.py:256-266, config framework.py:70). Without
delta-spark we implement the *intent*:

- compaction → rewrite with AQE-coalesced / explicitly repartitioned
  output files (small-file problem is the #1 operational issue at
  100 TB — a day of streaming appends leaves thousands of tiny files);
- Z-order → ``repartitionByRange`` on the clustering columns +
  ``sortWithinPartitions``: parquet row-group min/max stats then give
  the same data-skipping effect for predicates on those columns. A true
  space-filling curve only beats this for multi-column point lookups;
  documented divergence (SURVEY.md §7 hard-items #4).

Both rewrites commit through ``ingestion.base.overwrite_staged``, the
commit path merge uses too: every target, a named table at its catalog
location, is staged beside itself and promoted by a metadata-only
rename, so a failure mid-rewrite never corrupts the live table and a
table keeps its catalog entry.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from python_tool_setup_spark.ingestion.base import overwrite_staged

_TARGET_FILE_BYTES = 128 * 1024 * 1024


def optimize_layout(
    spark: SparkSession,
    path: str | None = None,
    table: str | None = None,
    fmt: str = "parquet",
    zorder_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """OPTIMIZE-equivalent over a path or managed table."""
    if fmt == "delta":
        name = table if (table and not path) else f"delta.`{path}`"
        z = f" ZORDER BY ({', '.join(zorder_by)})" if zorder_by else ""
        spark.sql(f"OPTIMIZE {name}{z}")
        return
    if not (path or table):
        raise ValueError("optimize_layout needs a path or table")
    df = spark.read.format(fmt).load(path) if path else spark.table(table)

    n = max(1, _estimate_num_files(spark, df))
    if zorder_by:
        df = df.repartitionByRange(n, *zorder_by).sortWithinPartitions(*zorder_by)
    else:
        # size-based compaction: estimate partition count from input bytes
        df = df.repartition(n)
    overwrite_staged(spark, df, fmt, path=path, table=table, partition_by=partition_by)


def _estimate_num_files(spark, df) -> int:
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # a size at the default means unknown (e.g. a partitioned catalog
        # table without statistics): fall back to one file per core
        if size < spark._jsparkSession.sessionState().conf().defaultSizeInBytes():
            return int(min(max(1, size // _TARGET_FILE_BYTES), 100_000))
    except Exception:  # noqa: BLE001
        pass
    return spark.sparkContext.defaultParallelism


# ------------------------------------------------- true Z-order (Morton) ----
def morton_code(a, b, bits: int = 16):
    """Interleave the low `bits` bits of two non-negative integer
    columns into a Morton (Z-curve) code: a_0 b_0 a_1 b_1 ...

    Pure integer arithmetic (shift/mask/or), engine-independent and
    fully inside whole-stage codegen. 2x16 bits -> 32-bit code.
    """
    from pyspark.sql import functions as F

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a, b = a.cast("long"), b.cast("long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return code
