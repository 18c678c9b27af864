"""prefix_agg / prefix_rank must reproduce global-window semantics
exactly while opening no unpartitioned window in the physical plan."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators import blockrank
from python_tool_setup_spark.operators.blockrank import prefix_agg, prefix_rank

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def blocks(monkeypatch):
    """Set the block count of the calls that follow (the engine uses a
    fixed count; a small one puts the test's rows in several blocks)."""
    return lambda n: monkeypatch.setattr(blockrank, "_N_BLOCKS", n)


def _rows(n, seed=7):
    rng = random.Random(seed)
    return [
        (i, rng.randint(0, 50), rng.randint(-100, 100)) for i in range(n)
    ]


def _df(spark, n, seed=7):
    return spark.createDataFrame(_rows(n, seed), "id long, k long, v long")


def test_prefix_sum_matches_global_window(spark, blocks):
    blocks(7)
    df = _df(spark, 500)
    got = prefix_agg(
        df, [("k", "asc"), ("id", "asc")], {"pre": ("sum", "v")}
    )
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("pre", F.coalesce(F.sum("v").over(w), F.lit(0)))
    assert sorted(got.select("id", "pre").collect()) == sorted(
        want.select("id", "pre").collect()
    )


def test_prefix_min_desc_matches_global_window(spark, blocks):
    blocks(5)
    df = _df(spark, 300, seed=11)
    got = prefix_agg(
        df,
        [("k", "desc"), ("id", "asc")],
        {"pmin": ("min", "v"), "pmax": ("max", "v"), "cnt": ("count", None)},
    )
    w = Window.orderBy(F.col("k").desc(), "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = df.select(
        "id",
        F.min("v").over(w).alias("pmin"),
        F.max("v").over(w).alias("pmax"),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("cnt"),
    )
    assert sorted(got.select("id", "pmin", "pmax", "cnt").collect()) == sorted(
        want.collect()
    )


def test_prefix_rank_matches_row_number(spark):
    df = _df(spark, 400, seed=3)
    got = prefix_rank(df, [("v", "desc"), ("id", "asc")], alias="rk")
    want = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("v").desc(), "id"))
    )
    assert sorted(got.select("id", "rk").collect()) == sorted(
        want.select("id", "rk").collect()
    )


def test_edge_cases(spark):
    empty = spark.createDataFrame([], "id long, v long")
    assert (
        prefix_agg(empty, [("id", "asc")], {"p": ("sum", "v")}).count() == 0
    )
    one = spark.createDataFrame([(1, 9)], "id long, v long")
    row = prefix_agg(
        one, [("id", "asc")], {"p": ("sum", "v"), "m": ("min", "v")}
    ).collect()[0]
    assert row["p"] == 0 and row["m"] is None


def test_no_unpartitioned_window_in_plan(spark):
    df = _df(spark, 100)
    got = prefix_rank(df, [("v", "asc"), ("id", "asc")])
    plan = got._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # every window spec in the plan must carry partition cols
            assert "_blk" in line, line


def test_null_leading_keys_are_kept_and_ordered(spark, blocks):
    """ADVICE r5: a NULL leading sort value must land in the
    null-ordering end block, not silently drop out of the result."""
    blocks(6)
    rows = [(i, None if i % 7 == 0 else (i * 13) % 40, 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    for direction in ("asc", "desc"):
        got = prefix_agg(
            df,
            [("k", direction), ("id", "asc")],
            {"pre": ("sum", "v")},
        )
        sort_col = F.col("k").desc() if direction == "desc" else F.col("k").asc()
        w = Window.orderBy(sort_col, "id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        want = df.withColumn(
            "pre", F.coalesce(F.sum("v").over(w), F.lit(0))
        )
        assert got.count() == 200  # no silent row loss
        assert sorted(got.select("id", "pre").collect()) == sorted(
            want.select("id", "pre").collect()
        )


def test_nan_and_null_double_keys(spark, blocks):
    """NaN double keys sort greater than everything in Spark; they
    must land in the matching end block (and NULLs at the other end),
    with no row lost and prefixes identical to the global window."""
    blocks(5)
    rows = []
    for i in range(150):
        if i % 11 == 0:
            k = float("nan")
        elif i % 13 == 0:
            k = None
        else:
            k = float((i * 17) % 31)
        rows.append((i, k, 1))
    df = spark.createDataFrame(rows, "id long, k double, v long")
    for direction in ("asc", "desc"):
        got = prefix_agg(
            df,
            [("k", direction), ("id", "asc")],
            {"pre": ("count", None)},
        )
        sort_col = F.col("k").desc() if direction == "desc" else F.col("k").asc()
        w = Window.orderBy(sort_col, "id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        want = df.withColumn(
            "pre", F.coalesce(F.count(F.lit(1)).over(w), F.lit(0))
        )
        assert got.count() == 150
        assert sorted(got.select("id", "pre").collect()) == sorted(
            want.select("id", "pre").collect()
        )


def test_chained_calls_execute_source_once(spark):
    """Lineage contract (VERDICT r5 #3): chaining prefix calls must
    NOT re-execute the upstream lineage multiplicatively — the q323
    RFM regression was a ~4^depth recompute explosion. The source is
    instrumented with an accumulator; a chained two-call pipeline may
    execute it at most twice (it pins after the first pass)."""
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.range(2000).select(
        F.col("id"), (F.col("id") * 37 % 1001).alias("v")
    )
    src = base.mapInPandas(bump, "id long, v long")
    one = prefix_agg(src, [("v", "asc"), ("id", "asc")], {"p1": ("sum", "v")})
    two = prefix_agg(
        one, [("p1", "asc"), ("id", "asc"), ("v", "asc")], {"p2": ("count", None)}
    )
    n = two.count()
    assert n == 2000
    assert acc.value <= 2 * 2000, (
        f"source executed {acc.value / 2000:.1f}x — lineage contract broken"
    )


def test_no_cachemanager_leak(spark):
    """ADVICE r5: the pinned-range path must not register anything in
    the CacheManager (Dataset.persist leaks there until an explicit
    unpersist; localCheckpoint storage is ContextCleaner-managed)."""
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert jcm.isEmpty()
    df = spark.createDataFrame(
        [(str(i % 9), i) for i in range(500)], "g string, v long"
    )
    out = prefix_agg(
        df, [("g", "asc"), ("v", "asc")], {"p": ("count", None)}
    )
    assert out.count() == 500
    assert jcm.isEmpty(), "prefix_agg leaked a CacheManager entry"


def test_reserved_bound_names_do_not_clobber(spark):
    """ADVICE r5: an input already containing _mn/_mx (the old bound
    aliases) must pass through untouched."""
    df = spark.createDataFrame(
        [(i, i % 10, i * 2, i * 3) for i in range(100)],
        "id long, k long, _mn long, _mx long",
    )
    got = prefix_agg(df, [("k", "asc"), ("id", "asc")], {"pre": ("count", None)})
    assert set(df.columns) <= set(got.columns)
    row = got.filter(F.col("id") == 5).collect()[0]
    assert row["_mn"] == 10 and row["_mx"] == 15


def test_prefix_agg_cached_input_consistent(spark):
    """Regression: a CACHED input must not break block-offset
    consistency (two repartitionByRange executions re-sampling
    different boundaries -> silently wrong prefixes)."""
    from pyspark.sql import functions as F

    from python_tool_setup_spark.operators.blockrank import prefix_agg

    df = (
        spark.range(5000)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 7919 % 100003).alias("v"),
        )
        .persist()
    )
    try:
        pre = prefix_agg(df, [("g", "asc"), ("v", "asc")], {"p": ("count", None)})
        chk = pre.groupBy("g").agg(
            F.min(F.coalesce("p", F.lit(0))).alias("mn"),
            F.max(F.col("p") + 1).alias("mx"),
            F.count("*").alias("n"),
        ).orderBy("g").collect()
        run = 0
        for r in chk:
            assert r["mn"] == run
            run += r["n"]
            assert r["mx"] == run
    finally:
        df.unpersist()


def test_nondeterministic_trivial_shape_is_pinned(spark, blocks):
    """ADVICE r6 (medium): a Project containing rand()/uuid()/... is
    node-trivial but NOT re-execution-safe — _pin_reason must give a
    reason so the default contract pins it, and the width path's three
    passes must all see the SAME frozen rows."""
    blocks(6)
    from python_tool_setup_spark.operators.blockrank import _pin_reason

    det = spark.range(100).select("id", (F.col("id") * 3).alias("v"))
    assert _pin_reason(det) is None, "plain scan+project should stay trivial"
    nondet = spark.range(100).select("id", F.rand(0).alias("x"))
    assert _pin_reason(nondet), "rand() projection must pin"
    assert _pin_reason(
        spark.range(10).select(F.shuffle(F.array(F.lit(1), F.lit(2))).alias("a"))
    )

    # End-to-end: prefix ranks over a nondeterministic column must be
    # consistent with the OUTPUT's own x values (frozen input), i.e.
    # sorting the result by (x, id) walks cnt = 0..n-1 in order.
    got = prefix_agg(
        spark.range(500).select("id", F.rand(42).alias("x")),
        [("x", "asc"), ("id", "asc")],
        {"cnt": ("count", None)},
    ).collect()
    assert sorted(r["cnt"] for r in got) == list(range(500))
    by_x = sorted(got, key=lambda r: (r["x"], r["id"]))
    assert [r["cnt"] for r in by_x] == list(range(500))


def test_persisted_input_never_repinned(spark, monkeypatch):
    """ADVICE r6 (low): the default pin contract on an
    already-persisted input must NOT double-materialize it."""
    import python_tool_setup_spark.operators.blockrank as br

    calls = []
    real_pin = br.pin
    monkeypatch.setattr(
        br, "pin", lambda df, **kw: calls.append(1) or real_pin(df, **kw)
    )
    df = (
        spark.range(300)
        .select("id", (F.col("id") * 37 % 101).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    try:
        df.count()
        out = br.prefix_agg(
            df, [("v", "asc")], {"p": ("sum", "c")}, cache_input=True
        )
        assert out.count() == df.count()
        assert not calls, "persisted input was re-pinned"
    finally:
        df.unpersist()


def test_pin_is_an_eager_local_checkpoint(spark):
    """pin() truncates lineage to an RDD scan, registers nothing in the
    CacheManager, and keeps the input's rows."""
    from python_tool_setup_spark.operators.blockrank import pin

    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    df = (
        spark.range(300)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    out = pin(df)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.lstrip().startswith("LogicalRDD"), plan
    assert jcm.isEmpty(), "pin registered a CacheManager entry"
    assert sorted(out.collect()) == sorted(df.collect())


def test_pin_decision_is_logged(spark, caplog):
    """Each prefix_agg call logs whether it pinned its input and why."""
    import logging

    logger = "python_tool_setup_spark.operators.blockrank"

    def decisions(df, order, aggs):
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger=logger):
            prefix_agg(df, order, aggs)
        return [r.getMessage() for r in caplog.records if r.name == logger]

    grouped = spark.range(200).groupBy((F.col("id") % 11).alias("v")).count()
    assert decisions(grouped, [("v", "asc")], {"p": ("sum", "count")}) == [
        "prefix_agg: pinned (non-trivial plan: Aggregate)"
    ]
    assert decisions(
        spark.range(50), [("id", "asc")], {"p": ("count", None)}
    ) == ["prefix_agg: skipped (trivial scan)"]
    strings = spark.range(50).select(F.col("id").cast("string").alias("s"))
    assert decisions(strings, [("s", "asc")], {"p": ("count", None)}) == [
        "prefix_agg: range layout (leading key has no numeric proxy)"
    ]


def _skewed_df(spark, n=2000, hot_frac=0.7, seed=13):
    """One hot leading-key value owning >= hot_frac of rows (VERDICT
    r10 item 3: the width-bucket balance concession must be tested,
    not assumed). id is the unique tiebreaker the order contract
    requires."""
    rng = random.Random(seed)
    n_hot = int(n * hot_frac)
    rows = [(i, 0, rng.randint(-100, 100)) for i in range(n_hot)] + [
        (i, rng.randint(1, 50), rng.randint(-100, 100))
        for i in range(n_hot, n)
    ]
    return spark.createDataFrame(rows, "id long, k long, v long")


def test_skewed_leading_key_width_path_correct(spark, blocks):
    """Default width buckets under a 70%-hot leading key: balance
    degrades (the hot value maps to ONE block) but every prefix value
    stays exact — skew must never be a correctness event."""
    blocks(8)
    df = _skewed_df(spark)
    got = prefix_agg(
        df,
        [("k", "asc"), ("id", "asc")],
        {"pre": ("sum", "v"), "cnt": ("count", None)},
    )
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select(
        "id",
        F.coalesce(F.sum("v").over(w), F.lit(0)).alias("pre"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    assert sorted(got.select("id", "pre", "cnt").collect()) == sorted(
        want.collect()
    )


def test_skewed_leading_key_range_path_balances(spark, blocks):
    """A string leading key takes the pinned range layout: the range
    partitioner keys on the FULL sort tuple, so the hot leading value
    is split across blocks by the id tiebreaker — block fan-out stays
    bounded — and the prefix stays exact. The zero-padded key ``ks``
    sorts exactly like ``k``."""
    blocks(8)
    from python_tool_setup_spark.operators.blockrank import (
        _range_blocked,
        _sort_exprs,
    )

    df = _skewed_df(spark).withColumn(
        "ks", F.lpad(F.col("k").cast("string"), 2, "0")
    )
    blocked = _range_blocked(df, _sort_exprs([("ks", "asc"), ("id", "asc")]), 8)
    sizes = {
        r["_blk"]: r["n"]
        for r in blocked.groupBy("_blk").agg(F.count("*").alias("n")).collect()
    }
    total = sum(sizes.values())
    assert total == 2000
    # the 70% hot key must NOT land in one block: range boundaries
    # sample the tiebreaker, so the largest block stays a bounded
    # fraction (allow generous sampling slack vs the 12.5% ideal)
    assert max(sizes.values()) <= 0.5 * total, sizes
    assert len(sizes) >= 4, sizes

    got = prefix_agg(
        df,
        [("ks", "asc"), ("id", "asc")],
        {"pre": ("sum", "v")},
    )
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select(
        "id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("pre")
    )
    assert sorted(got.select("id", "pre").collect()) == sorted(
        want.collect()
    )
