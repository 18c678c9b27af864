"""Tests for the scale-path operators: salted joins (skew), bucketed
exchange-free joins (co-location), and layout maintenance (compaction
/ clustering) — result-identity plus the PLAN-SHAPE guarantees that
are the whole point at 100 TB."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

from pyspark.sql import functions as F

from python_tool_setup_spark.ingestion.maintenance import optimize_layout
from python_tool_setup_spark.operators.skew import (
    bucketed_join,
    create_bucketed_table,
    salted_join,
)


def rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# ---------------------------------------------------------------- salt ----
def test_salted_join_matches_plain_join(spark):
    # one pathologically hot key (90% of the big side)
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k int, v int"
    )
    small = spark.createDataFrame([(i, f"d{i}") for i in range(100)], "k int, d string")
    expected = rows(big.join(small, ["k"]).select("k", "v", "d"))
    got = rows(salted_join(big, small, ["k"], salt_buckets=4).select("k", "v", "d"))
    assert got == expected


def test_auto_salted_join_engages_only_on_skew(spark):
    from python_tool_setup_spark.operators.skew import advise_salt_buckets

    # hot fixture: 90% of rows on key 1 -> advisor must salt
    hot = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k int, v int"
    )
    # uniform fixture: every key equally common -> advisor must not salt
    uniform = spark.createDataFrame(
        [(i % 100, i) for i in range(1000)], "k int, v int"
    )
    small = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "k int, d string"
    )
    assert advise_salt_buckets(hot, ["k"]) > 1
    assert advise_salt_buckets(uniform, ["k"]) == 1
    for big in (hot, uniform):
        expected = rows(big.join(small, ["k"]).select("k", "v", "d"))
        got = rows(
            salted_join(big, small, ["k"], auto=True).select("k", "v", "d")
        )
        assert got == expected


# ------------------------------------------------------------- buckets ----
def test_bucketed_join_has_no_exchange(spark, sf_dir):
    run = uuid.uuid4().hex[:8]
    lt, rt = f"t_orders_{run}", f"t_lineitem_{run}"
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    create_bucketed_table(
        spark, orders, lt, ["o_orderkey"], 8,
        location=tempfile.mkdtemp(), sort_cols=["o_orderkey"],
    )
    create_bucketed_table(
        spark, lineitem, rt, ["o_orderkey"], 8,
        location=tempfile.mkdtemp(), sort_cols=["o_orderkey"],
    )
    joined = bucketed_join(spark, lt, rt, ["o_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # bucket layout satisfies the join's distribution: NO shuffle at all
    assert "Exchange" not in plan
    # and the result matches the plain join
    assert joined.count() == orders.join(lineitem, "o_orderkey").count()


# --------------------------------------------------------- maintenance ----
def _parquet_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def test_compaction_reduces_files_preserves_rows(spark, sf_dir):
    target = tempfile.mkdtemp(prefix="compact_t_")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice"
    )
    li.repartition(32).write.mode("overwrite").parquet(target)
    n_before_files = len(_parquet_files(target))
    n_rows = li.count()
    optimize_layout(spark, path=target)
    assert len(_parquet_files(target)) < n_before_files
    assert spark.read.parquet(target).count() == n_rows


def test_zorder_clusters_ranges_per_file(spark, sf_dir, monkeypatch):
    from python_tool_setup_spark.ingestion import maintenance

    # small files, so the fixture's orders table spans many of them
    monkeypatch.setattr(maintenance, "_TARGET_FILE_BYTES", 64 * 1024)
    target = tempfile.mkdtemp(prefix="zorder_t_")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.repartition(8).write.mode("overwrite").parquet(target)
    optimize_layout(spark, path=target, zorder_by=["o_custkey"])
    files = _parquet_files(target)
    # clustering ⇒ per-file key ranges are (near-)disjoint, so the sum of
    # per-file distinct spans ≈ global span; fragmented layout gives ~N×.
    spans = []
    for f in files:
        mn, mx = (
            spark.read.parquet(f)
            .agg(F.min("o_custkey"), F.max("o_custkey"))
            .collect()[0]
        )
        spans.append((mn, mx))
    spans.sort()
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if b[0] <= a[1]
    )
    # ranges from repartitionByRange may touch at boundaries but must not
    # broadly interleave
    assert overlaps <= len(spans) // 2
    assert spark.read.parquet(target).count() == orders.count()


def test_skew_report_flags_hot_key(spark):
    from python_tool_setup_spark.operators.skew import skew_report

    rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
    df = spark.createDataFrame(rows, "k long, v long")
    rep = skew_report(df, ["k"], top_n=3).collect()
    assert rep[0]["k"] == 1 and rep[0]["key_rows"] == 90
    assert rep[0]["row_share"] == 0.9
    # 100 rows / 11 keys -> mean ~9.09 -> skew factor ~9.9
    assert 9.0 < rep[0]["skew_factor"] < 11.0
