"""Unit tests for SCD2 (operators/scd.py) and data-quality
expectations (operators/quality.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_tool_setup_spark.operators.quality import (
    expectation_report,
    quarantine,
)
from python_tool_setup_spark.operators.scd import (
    OPEN_END,
    scd2_apply,
    scd2_init,
)

T1, T2, T3 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"


def _hist_rows(df):
    return sorted(
        (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in df.collect()
    )


def test_scd2_change_new_key_and_no_news(spark):
    b1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    hist = scd2_init(b1, ["k"], T1)
    # k=1 changes, k=2 unchanged, k=3 absent (no news), k=4 new
    b2 = spark.createDataFrame([(1, "A"), (2, "b"), (4, "d")], ["k", "v"])
    out = scd2_apply(hist, b2, ["k"], ["v"], T2)
    got = _hist_rows(out)
    assert got == sorted(
        [
            (1, "a", f"{T1}", f"{T2}", False),
            (1, "A", f"{T2}", f"{OPEN_END}", True),
            (2, "b", f"{T1}", f"{OPEN_END}", True),
            (3, "c", f"{T1}", f"{OPEN_END}", True),
            (4, "d", f"{T2}", f"{OPEN_END}", True),
        ]
    )
    # replaying the same batch is a fixpoint (idempotent)
    again = scd2_apply(out, b2, ["k"], ["v"], T3)
    assert _hist_rows(again) == got


def test_expectation_report_counts_and_null_fail_closed(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 60), (3, None), (None, 5)], ["id", "qty"]
    )
    rules = {
        "qty_range": F.col("qty").between(1, 50),
        "id_not_null": F.col("id").isNotNull(),
    }
    got = {r["rule"]: r["violations"] for r in expectation_report(df, rules).collect()}
    # qty=60 out of range; qty=NULL fails closed -> 2 violations
    assert got == {"qty_range": 2, "id_not_null": 1}


def test_quarantine_split_and_failed_rules(spark):
    df = spark.createDataFrame([(1, 10), (2, 60), (None, 70)], ["id", "qty"])
    rules = {
        "qty_range": F.col("qty").between(1, 50),
        "id_not_null": F.col("id").isNotNull(),
    }
    good, bad = quarantine(df, rules)
    assert [r["id"] for r in good.collect()] == [1]
    got = {tuple(r["_failed_rules"]): r["id"] for r in bad.collect()}
    assert got == {("qty_range",): 2, ("qty_range", "id_not_null"): None}


def test_outlier_zscore(spark):
    from python_tool_setup_spark.operators.quality import outlier_zscore

    rows = [("a", float(v)) for v in [10, 11, 9, 10, 12, 8, 10, 11, 9, 10, 100]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = outlier_zscore(df, "v", ["g"], threshold=3.0)
    flagged = [r["v"] for r in out.filter("is_outlier").collect()]
    assert flagged == [100.0]
    # constant group: sigma = 0 -> z null -> never flagged
    const = spark.createDataFrame([("c", 5.0)] * 4, "g string, v double")
    assert outlier_zscore(const, "v", ["g"]).filter("is_outlier").count() == 0
