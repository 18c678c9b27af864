"""Fixture-table loading.

The driver fixtures live at ``/root/testdata/sf*/{name}.parquet`` (one
parquet file per table; see /root/repo/TESTDATA.md). At 100 TB each
"table" is instead a partitioned directory — ``load_table`` takes any
path Spark can read, so nothing here assumes single files.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Per-session memo of fixture DataFrames. Building a parquet reader
# costs a driver-side footer/schema read (~80 ms); a 253-gate bench run
# does it ~500 times for the same ten immutable fixture files, which is
# ~40 s of pure re-listing. DataFrames are immutable logical plans, so
# handing the same object to every caller is safe; keying the memo
# weakly on the session keeps stopped sessions collectable (tests spin
# sessions up and down). Fixture files never change during a run — any
# gate that writes data writes to its own staging dir, never here.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan — Catalyst handles
    column pruning / predicate pushdown from whatever the caller selects.

    ``events.parquet`` has stored its timestamp differently across
    fixture generations: TIMESTAMP(NANOS) (which the Spark scan rejects
    unless read as long) or TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (which Spark reads as TIMESTAMP_NTZ — unusable for watermarks).
    Normalize both to the session-zone TIMESTAMP type: nanos truncate
    exactly via integer division (same truncation DuckDB applies), and
    NTZ casts wall-clock-preserving under the UTC session zone.
    """
    try:
        memo = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mocks)
        memo = {}
    key = (sf_dir, name)
    if key in memo:
        return memo[key]
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    memo[key] = df
    return df


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
