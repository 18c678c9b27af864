"""Core relational helpers: deterministic dedup, semi/anti joins, top-k.

All pure DataFrame compositions — no UDFs, no collects — so Catalyst
keeps pushdown/pruning and AQE picks physical strategies. Designed for
the 100 TB case: a dedup or top-k is one shuffle on its keys, never a
global sort of the full relation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_keys(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence = (),
) -> DataFrame:
    """Keep exactly one row per key combination, deterministically.

    Unlike ``dropDuplicates`` (which keeps an arbitrary row and is
    therefore non-reproducible across runs/cluster sizes), this keeps the
    first row under ``order_by`` (Column expressions or names). One hash
    shuffle on ``keys``; the per-key sort is local to each partition.
    """
    if not order_by:
        return df.dropDuplicates(list(keys))
    return top_k(df, 1, order_by, keys)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows of ``left`` with at least one key match in ``right``."""
    return left.join(right, on=list(on), how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no key match in ``right``."""
    return left.join(right, on=list(on), how="left_anti")


def top_k(
    df: DataFrame,
    k: int,
    order_by: Sequence,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Top-k rows, optionally per group.

    Global top-k (`partition_by=()`): ``orderBy().limit(k)`` — Spark
    plans TakeOrderedAndProject, which keeps only k rows per partition
    before a single k-row merge on the driver side of the exchange; no
    full sort, safe at any scale.

    Grouped top-k: ``ranked_top_k`` with the rank dropped.
    """
    if not partition_by:
        return df.orderBy(*order_by).limit(k)
    return ranked_top_k(df, k, order_by, partition_by, "__rn").drop("__rn")


def ranked_top_k(
    df: DataFrame,
    k: int,
    order_by: Sequence,
    partition_by: Sequence[str],
    rank_col: str,
) -> DataFrame:
    """The first ``k`` rows of each ``partition_by`` group under
    ``order_by``, numbered 1..k in ``rank_col`` — the one per-group
    "number the rows, cut at k" of the package (retrieval top-k,
    frequency caps and keep-first dedup all reduce to it).

    row_number over a key-partitioned window: one shuffle on the group
    keys, a local sort per partition, never a global sort. Ties under
    ``order_by`` break arbitrarily, so callers that need a reproducible
    cut end ``order_by`` with a unique column.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def last_to_ship(lines: DataFrame) -> DataFrame:
    """Suppliers that were last to ship in multi-supplier orders, over
    lineitem columns (``l_orderkey``, ``l_suppkey``, ``l_shipdate``).

    The TPC-H Q21 kernel: for each order with >= 2 distinct suppliers,
    the supplier(s) for which NO other supplier shipped strictly later
    (ties wait together — 'own latest >= every other supplier's
    latest'). Equivalent to the official correlated
    EXISTS / NOT-EXISTS pair, proven by ``tests/test_tpch_props.py``'s
    brute-force property (NULL dates included): reducing to
    per-(order, supplier) max ship values, a supplier waits iff its
    non-null max equals the order max (if it were below, the true max
    belongs to another supplier, violating NOT EXISTS; if equal,
    every other supplier's lines are <= it) — OR it has any
    NULL-shipdate line, because under three-valued logic
    ``l3.ship > NULL`` is UNKNOWN for every l3, so that line
    satisfies the NOT EXISTS vacuously and the supplier waits.

    One hash aggregate on (order, supplier) + one window over order —
    O(|lines|) with two key-local shuffles, versus the naive plan's
    two correlated re-scans of the fact. Returns distinct
    (l_orderkey, l_suppkey) pairs.
    """
    per = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("__smax"),  # max ignores NULLs
        F.max(F.col("l_shipdate").isNull()).alias("__has_null"),
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per.withColumn("__omax", F.max("__smax").over(w))
        .withColumn("__nsupp", F.count("*").over(w))
        .filter(
            (F.col("__nsupp") >= 2)
            & (
                F.col("__has_null")
                | (F.col("__smax") == F.col("__omax"))
            )
        )
        .select("l_orderkey", "l_suppkey")
    )


def left_join_count_histogram(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    count_col: str = "n",
    dist_col: str = "dist",
) -> DataFrame:
    """Count-of-counts over a LEFT join: how many distinct ``left``
    KEYS have 0, 1, 2, ... matches in ``right`` (the TPC-H Q13 kernel
    — q213).

    Precondition: ``left_key`` is unique in ``left`` (true for Q13's
    custkey, and for any primary-key left side) — the groupBy
    collapses duplicate left-key rows, so with a non-unique key the
    histogram counts keys, not rows.

    The zero bucket is the point: filtering ``right`` BEFORE the left
    join (callers pre-apply any match predicate there) is the outer-
    join-algebra equivalent of an ON-clause filter, and COUNT over the
    right key skips NULLs, so unmatched left rows land in bucket 0
    instead of disappearing. Two shuffles: the join + the re-count
    over the tiny distinct-count domain. Sides are aliased so
    ``left_key == right_key`` is unambiguous.
    """
    l, r = left.alias("__l"), right.alias("__r")
    per = (
        l.join(r, F.col(f"__l.{left_key}") == F.col(f"__r.{right_key}"), "left")
        .groupBy(F.col(f"__l.{left_key}"))
        .agg(F.count(F.col(f"__r.{right_key}")).alias(count_col))
    )
    return per.groupBy(count_col).agg(F.count("*").alias(dist_col))


def skyline_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Pareto frontier minimizing ``x`` AND ``y``: rows no other row
    beats on both dimensions (dominator: <= on both, < on at least
    one). Duplicated frontier points survive together — neither
    strictly dominates the other. Three-valued logic on NULLs: a row
    with a NULL coordinate can neither dominate nor be dominated
    (every comparison is UNKNOWN), so NULL-coordinate rows all
    survive and are excluded from judging the rest — matching the
    literal NOT-EXISTS definition.

    Rewrite of the O(n^2) NOT-EXISTS form (proven equivalent by
    ``tests/test_tpch_props.py``'s brute-force property, NULLs
    included): (1) per-x MIN(y) — one map-side-combined aggregate;
    (2) prefix-min of those minima over strictly smaller x — a
    window over the DISTINCT-x domain; (3) join back: a row survives
    iff its y equals its x's min and strictly undercuts every
    smaller x's min. Any dominator either shares the x (then the
    x-min dominates too) or has smaller x (then that x's min
    dominates too), so checking the minima suffices.

    PRECONDITION: the distinct-``x`` domain must be bounded (q223
    uses p_size, ~50 values) — the per-x minima table is broadcast
    back to the fact side. The prefix-min itself is the distributed
    block-offset prefix (operators/blockrank.py), so even a large
    distinct-x domain never funnels one partition; only the
    broadcast requires boundedness (quantize a near-unique
    continuous ``x`` first: bucketize, skyline the buckets, refine
    within the shortlist). ``__ymin`` / ``__prefix_min`` are
    reserved column names (same convention as ``dedup_by_keys``'s
    ``__rn``).
    """
    # NULL-x groups are excluded from the minima table (they would
    # sort NULLS-FIRST into the prefix window and poison it); MIN(y)
    # ignores NULL y, so null-y rows never lower a group's minimum.
    from python_tool_setup_spark.operators.blockrank import prefix_agg

    per_x = df.filter(F.col(x).isNotNull()).groupBy(x).agg(
        F.min(y).alias("__ymin")
    )
    fronts = prefix_agg(
        per_x, [(x, "asc")], {"__prefix_min": ("min", "__ymin")}
    )
    # Single pass: LEFT join keeps NULL-x rows (null keys never match)
    # and the has_null arm keeps every NULL-coordinate row; non-null
    # rows survive on the minima test.
    has_null = F.col(x).isNull() | F.col(y).isNull()
    return (
        df.join(F.broadcast(fronts), x, "left")
        .filter(
            has_null
            | (
                (F.col(y) == F.col("__ymin"))
                & (
                    F.col("__prefix_min").isNull()
                    | (F.col("__prefix_min") > F.col(y))
                )
            )
        )
        .drop("__ymin", "__prefix_min")
    )
