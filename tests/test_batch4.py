"""Unit tests for the batch-4 surfaces: cogrouped pandas, malformed
CSV handling, time-range window frames."""

from __future__ import annotations

import datetime

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def test_cogroup_handles_one_sided_keys(spark):
    left = spark.createDataFrame([(1, 10.0), (1, 20.0)], "key long, v double")
    right = spark.createDataFrame([(2, 5.0)], "key long, v double")

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        key = l["key"].iloc[0] if len(l) else r["key"].iloc[0]
        return pd.DataFrame(
            {"key": [key], "nl": [len(l)], "nr": [len(r)]}
        )

    out = {
        r.key: (r.nl, r.nr)
        for r in left.groupBy("key")
        .cogroup(right.groupBy("key"))
        .applyInPandas(merge, "key long, nl long, nr long")
        .collect()
    }
    assert out == {1: (2, 0), 2: (0, 1)}


def test_permissive_csv_counts_corrupt_rows(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("1,2\nnot_an_int,oops,extra\n3,4\n")
    df = (
        spark.read.schema("a INT, b INT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).count()
    bad = df.filter(F.col("_corrupt_record").isNotNull()).count()
    assert (good, bad) == (2, 1)


def test_time_range_frame_includes_only_trailing_hour(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1.0),
        (2, t0 + datetime.timedelta(minutes=30), 2.0),
        (3, t0 + datetime.timedelta(minutes=61), 3.0),  # evicts row 1
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    out = {
        r.event_id: r.n
        for r in df.select(
            "event_id", F.count(F.lit(1)).over(w).alias("n")
        ).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2}


def test_merge_schema_evolution_adds_column(spark):
    from python_tool_setup_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    source = spark.createDataFrame(
        [(2, "b2", "x"), (3, "c", "y")], "k long, v string, extra string"
    )
    out = {
        r.k: (r.v, r.extra)
        for r in merge_upsert(
            target, source, keys=["k"], evolve_schema=True
        ).collect()
    }
    assert out == {1: ("a", None), 2: ("b2", "x"), 3: ("c", "y")}


def test_merge_schema_evolution_rejects_missing_target_cols(spark):
    import pytest

    from python_tool_setup_spark.operators.merge import MergeKeyError, merge_upsert

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    source = spark.createDataFrame([(2, "x")], "k long, extra string")
    with pytest.raises(MergeKeyError):
        merge_upsert(target, source, keys=["k"], evolve_schema=True).collect()


def test_containment_flags_subset_quote(spark):
    from python_tool_setup_spark.llm.dedup import ngram_jaccard_pairs

    long_doc = " ".join(f"w{i}" for i in range(40))
    quote = " ".join(f"w{i}" for i in range(12))  # strict prefix subset
    docs = spark.createDataFrame(
        [(1, "s", long_doc), (2, "s", quote), (3, "s", "totally different words here")],
        "doc_id long, source string, text string",
    )
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["source"],
        shingle_size=3, threshold=0.9, metric="containment",
    ).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in out] == [(1, 2, 1.0)]
    # resemblance jaccard on the same pair is far below 0.9
    jac = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["source"],
        shingle_size=3, threshold=0.01,
    ).collect()
    assert all(r.jaccard < 0.5 for r in jac)


def test_merge_apply_cdc_deletes_and_upserts(spark):
    from python_tool_setup_spark.operators.merge import merge_apply_cdc

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    log = spark.createDataFrame(
        [(2, "delete", None), (3, "upsert", "c2"), (4, "upsert", "d")],
        "k long, _op string, v string",
    )
    out = {r.k: r.v for r in merge_apply_cdc(target, log, ["k"]).collect()}
    assert out == {1: "a", 3: "c2", 4: "d"}


def test_merge_apply_cdc_latest_change_wins(spark):
    # an uncompacted log is compacted to its latest change per key
    # first, as the merge_apply_cdc docstring prescribes
    from python_tool_setup_spark.operators.merge import merge_apply_cdc
    from python_tool_setup_spark.operators.relational import dedup_by_keys

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    log = spark.createDataFrame(
        [(1, "delete", None, 1), (1, "upsert", "a2", 2)],
        "k long, _op string, v string, seq long",
    )
    latest = dedup_by_keys(log, ["k"], [F.col("seq").desc()])
    out = merge_apply_cdc(target, latest, ["k"]).collect()
    assert [(r.k, r.v) for r in out] == [(1, "a2")]


def test_merge_apply_cdc_rejects_unknown_op(spark):
    import pytest

    from python_tool_setup_spark.operators.merge import merge_apply_cdc

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    # a typo'd op must raise, not behave as a silent delete; the guard
    # rides the apply plan (raise_error projection), so the failure
    # surfaces at action time with zero extra scans
    log = spark.createDataFrame(
        [(1, "update", "a2")], "k long, _op string, v string"
    )
    with pytest.raises(Exception, match="unknown op"):
        merge_apply_cdc(target, log, ["k"]).collect()
    # a NULL op is just as dangerous (three-valued logic slips past a
    # plain NOT IN filter) and must also raise
    null_log = spark.createDataFrame(
        [(1, None, "a2")], "k long, _op string, v string"
    )
    with pytest.raises(Exception, match="unknown op"):
        merge_apply_cdc(target, null_log, ["k"]).collect()


def test_deletion_vector_roundtrip(spark, tmp_path):
    from python_tool_setup_spark.operators.deletevec import (
        build_deletion_vector,
        read_with_deletion_vector,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, m long"
    ).repartition(3).write.parquet(p)
    dv = build_deletion_vector(spark, p, F.col("m") == 0)
    live = read_with_deletion_vector(spark, p, dv)
    assert sorted(r.k for r in live.collect()) == sorted(
        i for i in range(30) if i % 3 != 0
    )
