"""Unit tests for versioned tables (ingestion/versioned.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_tool_setup_spark.ingestion.versioned import (
    clean_orphans,
    list_versions,
    read_version,
    snapshot_diff,
    vacuum_versions,
    write_version,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_read_versions_and_vacuum(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    v1 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], ["k", "v"])
    assert write_version(spark, v0, path) == 0
    assert write_version(spark, v1, path) == 1
    assert list_versions(spark, path) == [0, 1]
    assert _rows(read_version(spark, path, 0)) == [(1, "a"), (2, "b")]
    assert _rows(read_version(spark, path)) == [(1, "a"), (2, "B"), (3, "c")]
    assert vacuum_versions(spark, path, keep=1) == [1]
    with pytest.raises(ValueError):
        read_version(spark, path, 0)
    # next write continues the version sequence, not reusing ids
    assert write_version(spark, v0, path) == 2


def test_crash_mid_manifest_commit_keeps_previous_version(
    spark, tmp_path, monkeypatch
):
    # Fault injection: the process dies after the old manifest was
    # renamed aside and before the new one was promoted. The next
    # reader finds the previous version, and the next writer goes on.
    import python_tool_setup_spark.sources.fs as fs

    path = str(tmp_path / "t")
    write_version(spark, spark.createDataFrame([(1, "a")], "k long, v string"), path)
    real_rename, calls = fs._rename, []

    def crash_after_first_rename(*a):
        calls.append(a)
        if len(calls) > 1:
            raise IOError("injected crash")
        real_rename(*a)

    monkeypatch.setattr(fs, "_rename", crash_after_first_rename)
    with pytest.raises(IOError, match="injected"):
        write_version(
            spark, spark.createDataFrame([(2, "b")], "k long, v string"), path
        )
    monkeypatch.setattr(fs, "_rename", real_rename)
    assert list_versions(spark, path) == [0]
    assert _rows(read_version(spark, path)) == [(1, "a")]
    assert write_version(spark, read_version(spark, path), path) == 1


def test_clean_orphans_removes_real_crash_layout(spark, tmp_path):
    # A writer that crashes between snapshot and manifest swap leaves a
    # dir in the REAL 'v=<N>' layout (what _version_dir writes); orphan
    # cleanup must remove exactly that, keep referenced versions, and
    # ignore unrelated dirs.
    path = str(tmp_path / "t")
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_version(spark, v0, path)
    write_version(spark, v0.filter(F.col("k") == 1), path)
    # crashed writer: snapshot written, manifest never swapped
    v0.limit(1).write.parquet(path + "/v=7")
    # unrelated sidecar dir must be untouched
    v0.limit(1).write.parquet(path + "/notes")
    assert clean_orphans(spark, path) == ["v=7"]
    assert list_versions(spark, path) == [0, 1]
    assert _rows(read_version(spark, path, 0)) == [(1, "a"), (2, "b")]
    assert _rows(read_version(spark, path, 1)) == [(1, "a")]
    # idempotent: second run finds nothing
    assert clean_orphans(spark, path) == []


def test_snapshot_diff_change_types(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)], ["k", "v", "x"]
    )
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)], ["k", "v", "x"]
    )
    diff = snapshot_diff(old, new, ["k"])
    got = {(r["k"], r["_change_type"]): (r["v"], r["x"]) for r in diff.collect()}
    assert got == {
        (1, "delete"): ("a", 10.0),
        (4, "insert"): ("d", 40.0),
        (2, "update_preimage"): ("b", 20.0),
        (2, "update_postimage"): ("b", 25.0),
        # NULL -> value transition is detected (null-safe compare)
        (3, "update_preimage"): ("c", None),
        (3, "update_postimage"): ("c", 30.0),
    }


def test_snapshot_diff_identical_is_empty(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert snapshot_diff(df, df.select("k", "v"), ["k"]).count() == 0


def test_forget_keys_purges_history(spark, tmp_path):
    from python_tool_setup_spark.ingestion.versioned import (
        forget_keys,
        list_versions,
        read_version,
        write_version,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, owner long"
    )
    write_version(spark, df, table)
    write_version(spark, df, table)  # history that embeds the subject
    audit = forget_keys(spark, table, "owner", [1])

    assert audit["purge_complete"]
    assert audit["residual_key_rows"] == 0
    assert audit["files_remaining"] > 0
    # only the scrubbed version remains -> time travel cannot resurrect
    assert len(list_versions(spark, table)) == 1
    remaining = read_version(spark, table)
    assert remaining.filter("owner = 1").count() == 0
    assert remaining.count() == 20


def test_forget_keys_empty_keys_is_noop_rewrite(spark, tmp_path):
    from python_tool_setup_spark.ingestion.versioned import (
        forget_keys,
        read_version,
        write_version,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    write_version(spark, df, table)
    audit = forget_keys(spark, table, "id", [])
    assert audit["purge_complete"] and audit["residual_key_rows"] == 0
    assert read_version(spark, table).count() == 10


def test_forget_keys_keeps_null_keyed_rows(spark, tmp_path):
    # Regression (round-4 ADVICE): ~isin(keys) is NULL for NULL keys,
    # so filter() silently dropped NULL-keyed rows during a purge —
    # unrequested data loss the isin-based audit could not see. The
    # null-safe keep predicate must retain them, for both non-empty
    # and empty key lists.
    from python_tool_setup_spark.ingestion.versioned import (
        forget_keys,
        read_version,
        write_version,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, owner string"
    )
    write_version(spark, df, table)
    audit = forget_keys(spark, table, "owner", ["a"])
    assert audit["purge_complete"]
    remaining = read_version(spark, table)
    assert remaining.filter("owner IS NULL").count() == 2
    assert remaining.count() == 3

    table2 = str(tmp_path / "t2")
    write_version(spark, df, table2)
    forget_keys(spark, table2, "owner", [])
    assert read_version(spark, table2).count() == 4


def test_forget_keys_all_rows(spark, tmp_path):
    from python_tool_setup_spark.ingestion.versioned import (
        forget_keys,
        read_version,
        write_version,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,), (2,)], "id long")
    write_version(spark, df, table)
    audit = forget_keys(spark, table, "id", [1, 2])
    assert audit["residual_key_rows"] == 0
    assert read_version(spark, table).count() == 0
