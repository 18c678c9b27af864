"""Skew-resistant and co-located join strategies.

At 100 TB, two join failure modes dominate:

- **skew**: one hot key (a crawler's user_id, the empty-string bucket)
  lands an entire shuffle partition on one executor. AQE's skew-join
  splitting (on by default in our session) handles moderate skew;
  ``salted_join`` is the explicit fix when one side is both huge and
  pathologically concentrated.
- **repeated shuffles**: joining the same fact table on the same key
  daily re-shuffles 100 TB every run. ``create_bucketed_table`` +
  ``bucketed_join`` pre-shuffles ONCE at write time; subsequent joins
  on the bucket key are exchange-free sort-merge joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def advise_salt_buckets(big: DataFrame, on: Sequence[str]) -> int:
    """Pick a salt bucket count from the big side's key histogram:
    skew factor = hottest-key rows / mean rows per key. Below 4 the
    shuffle is safe and the answer is 1 (no salting); above, the hot
    key needs ~skew-factor-way spreading, capped at 64 buckets. One
    map-side-combined aggregate + a
    3-scalar collect — safe to point at the full fact table (the same
    shape as :func:`skew_report`).
    """
    keys = list(on)
    counts = big.groupBy(*keys).agg(F.count(F.lit(1)).alias("__key_rows"))
    row = counts.agg(
        F.max("__key_rows").alias("__hot"),
        F.sum("__key_rows").alias("__total"),
        F.count(F.lit(1)).alias("__nkeys"),
    ).collect()[0]
    if not row["__nkeys"]:
        return 1
    skew_factor = row["__hot"] / (row["__total"] / row["__nkeys"])
    if skew_factor < 4.0:
        return 1
    import math

    return min(64, max(2, math.ceil(skew_factor)))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_buckets: int | None = 8,
    auto: bool = False,
) -> DataFrame:
    """Inner equi-join with the big side's hot keys spread over
    ``salt_buckets`` shuffle partitions.

    The big side gets a uniform random salt per ROW (never key-derived —
    that would re-concentrate the hot key); the small side is exploded
    ``salt_buckets``-fold so every (key, salt) combination exists. The
    join result is identical to ``big.join(small, on)``; only the
    shuffle distribution changes. Cost: small side × salt_buckets —
    use for big⋈small only; for big⋈big prefer AQE skew splitting.
    A right/full outer join would emit each unmatched small-side row
    once PER SALT, so use a plain ``join`` (or salt the other way
    around) there.

    With ``auto=True`` the bucket count is measured, not guessed:
    :func:`advise_salt_buckets` samples the big side's key histogram
    and salting engages only when the skew factor crosses 4 (1 bucket
    -> plain join, zero overhead on well-distributed keys).
    """
    if auto:
        salt_buckets = advise_salt_buckets(big, on)
    if salt_buckets is None or salt_buckets <= 1:
        return big.join(small, list(on), "inner")
    keys = list(on)
    salted_big = big.withColumn(
        "__salt", (F.rand(42) * salt_buckets).cast("int")
    )
    salted_small = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted_big.join(salted_small, [*keys, "__salt"], "inner").drop("__salt")


def create_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    location: str | None = None,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on
    ``bucket_cols`` — the write-time shuffle that later joins reuse.

    Spark's bucketing metadata lives in the session catalog, so readers
    must go through ``spark.table``; the files themselves are plain
    parquet with hash-assigned file membership.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .mode("overwrite")
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
) -> DataFrame:
    """Inner-join two tables bucketed on the join key: the MERGE hint forces
    sort-merge so neither side exchanges (bucket layout satisfies the
    distribution requirement). Verify with .explain(): no Exchange
    above either scan."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, list(on), "inner")


def skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Hot-key diagnostics to run BEFORE a big join/agg ships: the
    ``top_n`` heaviest keys with their row share and skew factor
    (rows / mean-rows-per-key). A skew factor in the hundreds says
    "salt this key or let AQE split it"; ~1 says the shuffle is safe.

    One aggregate on the key (map-side combined) + a TakeOrdered of
    ``top_n`` rows + a broadcast scalar join — nothing driver-side,
    safe to point at the full fact table.
    """
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("key_rows"))
    stats = counts.agg(
        F.sum("key_rows").alias("__total"),
        F.count(F.lit(1)).alias("__nkeys"),
    )
    top = counts.orderBy(F.col("key_rows").desc(), *keys).limit(top_n)
    return top.crossJoin(F.broadcast(stats)).select(
        *keys,
        "key_rows",
        # scale-first rounds: the count quotients are bit-identical
        # across engines; ROUND(x, n>0) tie resolution is not
        (
            F.round(1000000 * (F.col("key_rows") / F.col("__total")))
            / 1000000.0
        ).alias("row_share"),
        (
            F.round(
                10000
                * (F.col("key_rows") / (F.col("__total") / F.col("__nkeys")))
            )
            / 10000.0
        ).alias("skew_factor"),
    )
