"""Unit tests for operator building blocks on tiny handcrafted frames:
merge-upsert edge cases (the reference's Delta-merge semantics,
framework.py:211-231), as-of join, deterministic dedup, top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from python_tool_setup_spark import operators as ops
from python_tool_setup_spark.operators.merge import MergeKeyError, merge_key_errors


def rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# ---------------------------------------------------------------- merge ----
def test_merge_update_and_insert(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    out = ops.merge_upsert(target, source, keys=["k"])
    assert rows(out) == [(1, "a"), (2, "B"), (3, "C")]


def test_merge_empty_target(spark):
    target = spark.createDataFrame([], "k int, v string")
    source = spark.createDataFrame([(1, "A")], "k int, v string")
    assert rows(ops.merge_upsert(target, source, keys=["k"])) == [(1, "A")]


def test_merge_empty_source(spark):
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([], "k int, v string")
    assert rows(ops.merge_upsert(target, source, keys=["k"])) == [(1, "a")]


def test_merge_null_keys_never_match(spark):
    # Null-key source rows insert; null-key target rows are kept (SQL
    # equality semantics, same as Delta MERGE ON t.k = s.k).
    target = spark.createDataFrame([(None, "t-null"), (1, "a")], "k int, v string")
    source = spark.createDataFrame([(None, "s-null"), (1, "A")], "k int, v string")
    out = ops.merge_upsert(target, source, keys=["k"])
    got = sorted(rows(out), key=str)
    assert (1, "A") in got and (None, "t-null") in got and (None, "s-null") in got
    assert len(got) == 3


def test_merge_duplicate_source_keys_raises(spark):
    # Delta's rule: two source rows matching one target row abort the
    # merge; repeated keys that match nothing (null keys included) insert.
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(1, "A"), (1, "B")], "k int, v string")
    with pytest.raises(MergeKeyError), merge_key_errors():
        ops.merge_upsert(target, source, keys=["k"]).collect()
    # a target of keys only has no value column, and still raises
    with pytest.raises(MergeKeyError), merge_key_errors():
        ops.merge_upsert(target.select("k"), source.select("k"), keys=["k"]).collect()
    source = spark.createDataFrame(
        [(1, "A"), (2, "B"), (2, "C"), (None, "x"), (None, "y")], "k int, v string"
    )
    out = sorted(rows(ops.merge_upsert(target, source, keys=["k"])), key=str)
    assert out == [(1, "A"), (2, "B"), (2, "C"), (None, "x"), (None, "y")]


def test_merge_duplicate_source_dedup_order(spark):
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2)], "k int, v string, seq int"
    ).select("k", "v", "seq")
    out = ops.merge_upsert(
        target.withColumn("seq", F.lit(0)),
        ops.dedup_by_keys(source, ["k"], [F.col("seq").desc()]),
        keys=["k"],
    )
    assert rows(out) == [(1, "new", 2)]


def test_merge_null_source_value_overwrites(spark):
    # "update all" copies the source row as it is: a NULL source value
    # replaces a non-null target value (a coalesce-based merge keeps it).
    schema = "k int, v string, n int"
    target = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema)
    source = spark.createDataFrame([(1, None, None), (2, "B", None)], schema)
    out = ops.merge_upsert(target, source, keys=["k"])
    assert rows(out) == [(1, None, None), (2, "B", None)]


def test_merge_target_column_named_like_marker(spark):
    # Target columns that look like the implementation's internal
    # names (any case) must merge as ordinary data columns.
    schema = "k int, __merge_src string, __Merge_Src0 string, v string"
    target = spark.createDataFrame([(1, "m", "z", "a"), (2, "n", "y", "b")], schema)
    source = spark.createDataFrame([(2, "N", None, "B"), (3, "o", "x", "c")], schema)
    out = ops.merge_upsert(target, source, keys=["k"])
    assert out.columns == ["k", "__merge_src", "__Merge_Src0", "v"]
    assert rows(out) == [(1, "m", "z", "a"), (2, "N", None, "B"), (3, "o", "x", "c")]


def test_merge_scans_target_once(spark, tmp_path):
    import re

    path = str(tmp_path / "target")
    base = spark.createDataFrame([(i, str(i)) for i in range(10)], "k int, v string")
    base.write.parquet(path)
    source = spark.createDataFrame([(2, "B"), (30, "C")], "k int, v string")
    out = ops.merge_upsert(spark.read.parquet(path), source, keys=["k"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[[^\]]*\] parquet", plan)) == 1, plan
    assert rows(out) == sorted(
        [(i, str(i)) for i in range(10) if i != 2] + [(2, "B"), (30, "C")], key=repr
    )


def test_merge_idempotent(spark):
    # merge(merge(T,S),S) == merge(T,S)  (property from SURVEY.md §5.4)
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    once = ops.merge_upsert(target, source, keys=["k"])
    twice = ops.merge_upsert(once, source, keys=["k"])
    assert rows(once) == rows(twice)


# ----------------------------------------------------------------- asof ----
def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [("A", 10, 1), ("A", 25, 2), ("B", 5, 3)], "sym string, t int, trade_id int"
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 20, 101.0), ("B", 7, 50.0)],
        "sym string, t int, px double",
    )
    out = ops.asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="t", right_cols=["px"]
    )
    got = {r["trade_id"]: r["px_right"] for r in out.collect()}
    assert got == {1: 100.0, 2: 101.0, 3: None}


def test_asof_join_equal_ts_matches(spark):
    trades = spark.createDataFrame([("A", 10, 1)], "sym string, t int, id int")
    quotes = spark.createDataFrame([("A", 10, 9.0)], "sym string, t int, px double")
    out = ops.asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="t", right_cols=["px"]
    )
    assert out.collect()[0]["px_right"] == 9.0


# --------------------------------------------------------- dedup / topk ----
def test_dedup_by_keys_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "y"), (2, 5, "z")], "k int, score int, v string"
    )
    out = ops.dedup_by_keys(df, ["k"], [F.col("score").desc()])
    assert rows(out) == [(1, 20, "y"), (2, 5, "z")]


def test_top_k_global_and_grouped(spark):
    df = spark.createDataFrame(
        [(g, i, g * 100 + i) for g in (1, 2) for i in range(5)],
        "g int, i int, score int",
    )
    glob = ops.top_k(df, 2, [F.col("score").desc()])
    assert [r["score"] for r in glob.collect()] == [204, 203]
    grouped = ops.top_k(df, 2, [F.col("score").desc()], partition_by=["g"])
    assert sorted(r["score"] for r in grouped.collect()) == [103, 104, 203, 204]


def test_dedup_fixpoint(spark):
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=1, v="a"), Row(k=2, v="b")])
    once = df.dropDuplicates(["k", "v"])
    twice = once.dropDuplicates(["k", "v"])
    assert rows(once) == rows(twice)


# ---------------------------------------- partition-pruned merge (S5) ----
def test_bucketed_merge_touches_only_source_buckets(spark, tmp_path):
    import os
    import time

    from python_tool_setup_spark.operators.merge import (
        BUCKET_COL,
        merge_upsert,
        merge_upsert_bucketed,
        read_bucketed_target,
        write_bucketed_target,
    )

    target = str(tmp_path / "bt")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_bucketed_target(base, target, ["k"], num_buckets=8)
    dirs = {
        d: os.path.getmtime(os.path.join(target, d))
        for d in os.listdir(target)
        if d.startswith(BUCKET_COL)
    }
    assert len(dirs) == 8

    time.sleep(1.1)  # make mtime changes observable
    src = spark.createDataFrame([(3, 999), (3000, 42)], ["k", "v"])
    touched = merge_upsert_bucketed(spark, target, src, ["k"], num_buckets=8)
    got = {(r["k"], r["v"]) for r in read_bucketed_target(spark, target).collect()}
    expect = {
        (r["k"], r["v"]) for r in merge_upsert(base, src, ["k"]).collect()
    }
    assert got == expect

    after = {
        d: os.path.getmtime(os.path.join(target, d))
        for d in os.listdir(target)
        if d.startswith(BUCKET_COL)
    }
    changed = {d for d in dirs if d in after and after[d] != dirs[d]}
    assert changed == {f"{BUCKET_COL}={b}" for b in touched if f"{BUCKET_COL}={b}" in dirs}
    # at most 2 of 8 buckets rewritten for a 2-row source
    assert len(touched) <= 2


def test_bucketed_merge_bootstrap_empty_target(spark, tmp_path):
    from python_tool_setup_spark.operators.merge import (
        merge_upsert_bucketed,
        read_bucketed_target,
    )

    target = str(tmp_path / "bt0")
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    merge_upsert_bucketed(spark, target, src, ["k"], num_buckets=4)
    got = {(r["k"], r["v"]) for r in read_bucketed_target(spark, target).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_resample_gapfill_locf(spark):
    from python_tool_setup_spark.operators.timeseries import resample_gapfill

    rows = [
        ("u", "2024-01-01 00:10:00", 2.0),
        ("u", "2024-01-01 00:40:00", 4.0),
        # 01:00 empty -> gap
        ("u", "2024-01-01 02:05:00", 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = {r["bucket"].hour: r for r in
           resample_gapfill(df, "ts", ["user_id"], "value").collect()}
    assert sorted(out) == [0, 1, 2]
    assert out[0]["n_events"] == 2 and out[0]["sum_value"] == 6.0
    assert out[1]["n_events"] == 0 and out[1]["sum_value"] == 0.0
    assert out[1]["carry_avg"] == 3.0   # carried from hour 0 (mean of 2,4)
    assert out[2]["carry_avg"] == 10.0


def test_bucketed_merge_concurrent_disjoint_and_conflict(spark, tmp_path):
    """Delta-style optimistic concurrency at bucket granularity
    (reference framework.py:227-231 leans on Delta's writer-conflict
    check): two merges into DISJOINT bucket sets both commit; a writer
    whose touched bucket was rewritten between its read and its
    promote raises ConcurrentMergeError and leaves the winner's commit
    intact."""
    import pytest

    from python_tool_setup_spark.operators.merge import (
        ConcurrentMergeError,
        bucket_of,
        merge_upsert_bucketed,
        read_bucketed_target,
        write_bucketed_target,
    )

    target = str(tmp_path / "btc")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_bucketed_target(base, target, ["k"], num_buckets=8)

    # group candidate keys by their bucket so the test controls overlap
    probe = spark.range(0, 50).select(
        F.col("id").alias("k"), bucket_of(["k"], 8).alias("b")
    )
    by_bucket: dict[int, list[int]] = {}
    for r in probe.collect():
        by_bucket.setdefault(r["b"], []).append(r["k"])
    b1, b2 = sorted(by_bucket)[:2]
    k1, k2 = by_bucket[b1][0], by_bucket[b2][0]

    # --- disjoint buckets: interleaved writers BOTH commit ----------
    src_a = spark.createDataFrame([(k1, 111)], ["k", "v"])
    src_b = spark.createDataFrame([(k2, 222)], ["k", "v"])

    def commit_b():
        merge_upsert_bucketed(spark, target, src_b, ["k"], num_buckets=8)

    # writer B commits while writer A sits between read and promote —
    # disjoint buckets, so A must still succeed
    merge_upsert_bucketed(
        spark, target, src_a, ["k"], num_buckets=8, on_staged=commit_b
    )
    got = {r["k"]: r["v"] for r in read_bucketed_target(spark, target).collect()}
    assert got[k1] == 111 and got[k2] == 222

    # --- overlapping bucket: the slower writer must conflict --------
    k1b = by_bucket[b1][1]  # same bucket as k1
    src_c = spark.createDataFrame([(k1, 333)], ["k", "v"])
    src_d = spark.createDataFrame([(k1b, 444)], ["k", "v"])

    def commit_d():
        merge_upsert_bucketed(spark, target, src_d, ["k"], num_buckets=8)

    with pytest.raises(ConcurrentMergeError):
        merge_upsert_bucketed(
            spark, target, src_c, ["k"], num_buckets=8, on_staged=commit_d
        )
    got = {r["k"]: r["v"] for r in read_bucketed_target(spark, target).collect()}
    # the winner's (D) commit survives; the loser's (C) values are absent
    assert got[k1b] == 444 and got[k1] == 111
    # and the loser's replay after the conflict is a clean fixpoint
    merge_upsert_bucketed(spark, target, src_c, ["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in read_bucketed_target(spark, target).collect()}
    assert got[k1] == 333 and got[k1b] == 444


# ------------------------------------------------------- percentiles ----
def test_exact_percentiles_match_duckdb_on_both_paths(spark):
    """Both exact-quantile functions, per group and with no groups,
    against DuckDB quantile_cont: more distinct values than blockrank
    has blocks, tie runs that straddle the lo/hi picks, and NULLs,
    which quantile_cont ignores (group a is {NULL, NULL, 10, 20, 30},
    so its median is 20 over n = 3)."""
    import random

    import duckdb

    from python_tool_setup_spark.operators.percentiles import (
        grouped_exact_percentiles,
        grouped_exact_percentiles_frac,
    )

    rng = random.Random(14)
    data = [("a", v) for v in (None, None, 10, 20, 30)]
    data += [("b", rng.randrange(-40, 60)) for _ in range(150)] + [("b", None)] * 4
    data += [("c", 7)] * 6 + [("c", 9)] * 5  # n = 11: p50 picks 7 and 9
    fracs = [(0, 1), (1, 4), (1, 2), (9, 10), (1, 1)]
    pcts = {f"q{i}": a / b for i, (a, b) in enumerate(fracs)}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(g VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", data)
    sel = ", ".join(f"quantile_cont(v, {p}) AS {t}" for t, p in pcts.items())
    ref = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT g, {sel}, count(v) FROM t GROUP BY g"
            f" UNION ALL SELECT NULL, {sel}, count(v) FROM t"
        ).fetchall()
    }
    assert len(set(v for _, v in data)) > 40

    df = spark.createDataFrame(data, "g string, v long")
    for group_cols in (["g"], []):
        flt = grouped_exact_percentiles(df, group_cols, "v", pcts)
        num = grouped_exact_percentiles_frac(
            df, group_cols, "v", dict(zip(pcts, fracs))
        )
        got_f = {r["g"] if group_cols else None: r for r in flt.collect()}
        got_n = {r["g"] if group_cols else None: r for r in num.collect()}
        want = {g: q for g, q in ref.items() if (g is None) != bool(group_cols)}
        assert set(got_f) == set(got_n) == set(want), group_cols
        for g, (*qs, n) in want.items():
            assert got_f[g]["n"] == got_n[g]["n"] == n, (group_cols, g)
            for (t, (_, b)), q in zip(zip(pcts, fracs), qs):
                assert got_f[g][t] == pytest.approx(q, rel=1e-12), (g, t)
                assert got_n[g][f"{t}_num"] == round(q * b), (g, t)
    # the no-group path keeps every window partitioned (by blockrank's
    # block id), so no task holds the whole histogram
    flt = grouped_exact_percentiles(df, [], "v", pcts)
    plan = flt._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    partitioned, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window":
            partitioned.append(not node.partitionSpec().isEmpty())
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    assert partitioned and all(partitioned), plan.toString()
