"""Unit tests for the multi-table atomic publish."""

from __future__ import annotations

import pytest

from python_tool_setup_spark.ingestion.versioned import (
    publish_tables,
    read_published,
    write_version,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_publish_and_read_consistent_set(spark, tmp_path):
    root = str(tmp_path / "pub")
    a0 = spark.createDataFrame([(1, "v0")], "k long, tag string")
    b0 = spark.createDataFrame([(9, "v0")], "k long, tag string")
    assert publish_tables(spark, root, {"a": a0, "b": b0}) == 0
    a1 = spark.createDataFrame([(1, "v1"), (2, "v1")], "k long, tag string")
    b1 = spark.createDataFrame([(9, "v1")], "k long, tag string")
    assert publish_tables(spark, root, {"a": a1, "b": b1}) == 1
    got_a = _rows(read_published(spark, root, "a"))
    got_b = _rows(read_published(spark, root, "b"))
    assert got_a == [(1, "v1"), (2, "v1")]
    assert got_b == [(9, "v1")]


def test_crash_before_manifest_swap_is_invisible(spark, tmp_path):
    # snapshots written, root manifest NOT swapped (simulated crash):
    # readers keep resolving the complete OLD set — never a torn mix
    root = str(tmp_path / "pub")
    a0 = spark.createDataFrame([(1, "v0")], "k long, tag string")
    b0 = spark.createDataFrame([(9, "v0")], "k long, tag string")
    publish_tables(spark, root, {"a": a0, "b": b0})
    # a crashed publisher got as far as writing new snapshots
    write_version(
        spark,
        spark.createDataFrame([(1, "v1")], "k long, tag string"),
        f"{root}/a",
    )
    assert _rows(read_published(spark, root, "a")) == [(1, "v0")]
    assert _rows(read_published(spark, root, "b")) == [(9, "v0")]


def test_corrupt_publish_manifest_raises(spark, tmp_path):
    # A torn root manifest is not a first publish: restarting at
    # version 0 would hide every table published so far.
    from python_tool_setup_spark.sources.fs import put_object

    root = str(tmp_path / "pub")
    df = spark.createDataFrame([(1,)], "k long")
    publish_tables(spark, root, {"a": df})
    put_object(spark, f"{root}/_PUBLISH.json", '{"version": 0, "tab')
    with pytest.raises(ValueError):
        publish_tables(spark, root, {"a": df})
