"""Batch file readers + latest-file discovery.

Parity targets:
- S1 batch scan with inference/options (reference framework.py:144-151)
- S11/S12 object get + "latest file by LastModified" discovery
  (reference aws_utils/package1/test.py:60-121)

The latest-file operator is re-expressed relationally: list file
metadata through Spark's ``binaryFile`` source (distributed, scales to
millions of objects — the reference paginates sequentially in one
process) and take argmax(modificationTime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Raise scan parallelism before a CPU-heavy per-row stage.

    A parquet scan yields one task per file split, and a parquet file
    is splittable only at row-group boundaries — so a single-file (or
    single-row-group) table feeds tokenize/explode/shingle stages with
    ONE task no matter how many cores exist, and the hottest stage of
    the job serializes (measured: the sf0.1 BM25 postings build drops
    ~4x when spread). When the scan already yields at least the
    cluster's default parallelism — the normal many-file case at
    100 TB — this is a NO-OP, so well-laid-out tables never pay a
    gratuitous shuffle. (The durable fix is layout: keep file sizes
    near maxPartitionBytes, as PLANS.md §sf1 notes; this guards the
    pathological-layout case.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    options: dict[str, str] | None = None,
    schema: str | None = None,
    infer_schema: bool = True,
) -> DataFrame:
    """Config-driven batch scan (S1). Explicit schema wins over
    inference; csv/json without either get Spark's all-strings default."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema and fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", "true")
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def latest_file(spark: SparkSession, path: str) -> str | None:
    """Key of the most recently modified file under ``path`` (S12) —
    argmax by mtime, computed as an aggregate over a binaryFile scan
    pruned to its metadata columns, not a driver loop."""
    meta = spark.read.format("binaryFile").load(path)
    row = meta.agg(F.max_by("path", "modificationTime").alias("p")).first()
    return row["p"] if row else None


def read_latest_file(spark: SparkSession, path: str) -> DataFrame:
    """Read only the latest JSON file under a prefix — the reference's
    "download latest" flow (test.py:60-92) as a DataFrame source."""
    target = latest_file(spark, path)
    if target is None:
        raise FileNotFoundError(f"no files under {path}")
    return read_batch(spark, target)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque binary passthrough (S11 / L5 multimodal): columns
    (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
