"""Partitioning invariance of the round-8 exact-math operators.

The exactness rewrites (integer moments, exact-rational quantiles,
cent sums) claim their results are BIT-IDENTICAL under any physical
partitioning — that is the property a 1000-executor cluster stresses
that local fixtures never do. These tests re-run each operator on the
same rows under adversarial partitionings (1 partition, 13 skewed
partitions, reversed input order) and require exact equality — not
approx — of every output double.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles_frac,
)
from python_tool_setup_spark.operators.quality import outlier_zscore


def _money_rows(n: int, seed: int):
    rng = random.Random(seed)
    return [
        (i, f"g{i % 5}", round(rng.uniform(900, 300000), 2))
        for i in range(n)
    ]


def _layouts(df):
    yield df.repartition(1)
    yield df.repartition(13, "id")
    yield df.orderBy(F.col("id").desc()).coalesce(3)


def test_outlier_zscore_exact_moments_invariant(spark):
    base = spark.createDataFrame(
        _money_rows(4000, 99), "id long, g string, amount double"
    )
    ref = None
    for layout in _layouts(base):
        got = sorted(
            (r["id"], r["z"], r["is_outlier"])
            for r in outlier_zscore(
                layout, "amount", ["g"], 3.0, quantum=0.01
            ).collect()
        )
        if ref is None:
            ref = got
        else:
            assert got == ref, "z-scores changed under repartitioning"


def test_percentiles_frac_invariant(spark):
    base = spark.createDataFrame(
        [
            (i, f"g{i % 7}", (i * 37) % 1013)
            for i in range(5000)
        ],
        "id long, g string, v long",
    )
    for group_cols in (["g"], []):
        ref = None
        for layout in _layouts(base):
            got = sorted(
                tuple(r)
                for r in grouped_exact_percentiles_frac(
                    layout, group_cols, "v", {"p50": (1, 2), "p90": (9, 10)}
                ).collect()
            )
            if ref is None:
                ref = got
            else:
                assert got == ref, (group_cols, "numerators changed under layout")


def test_cent_sum_invariant(spark):
    base = spark.createDataFrame(
        _money_rows(6000, 7), "id long, g string, amount double"
    )
    cents = F.round(100 * F.col("amount")).cast("long")
    ref = None
    for layout in _layouts(base):
        got = sorted(
            (r["g"], r["total"])
            for r in layout.groupBy("g")
            .agg(
                F.round(F.sum(cents).cast("double") / 100, 2).alias("total")
            )
            .collect()
        )
        if ref is None:
            ref = got
        else:
            assert got == ref, "cent sums changed under repartitioning"
