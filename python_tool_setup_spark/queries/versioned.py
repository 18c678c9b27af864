"""Versioned-table gate queries (q73-q75): time travel, change feed,
incremental aggregation. All oracle-checked — snapshots are
deterministic functions of the fixture tables.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.ingestion.versioned import (
    read_version,
    snapshot_diff,
    write_version,
)
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir

# table_path cache per sf_dir: versions are immutable build artifacts
_VERSIONED: dict[str, str] = {}


def _orders_v0(orders: DataFrame) -> DataFrame:
    return orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )


def _orders_v1(orders: DataFrame) -> DataFrame:
    # additive bump: exact in binary floating point (x + 1000 never
    # rounds at this magnitude), so both engines agree bit-for-bit —
    # a multiplicative bump (x*1.1) hits round-half ties differently
    # in Spark vs DuckDB
    bump = F.when(F.col("o_orderkey") % 3 == 0, 1000.0).otherwise(0.0)
    return orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.round("o_totalprice", 2) + bump).alias("price"),
    )


def _build_versions(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _VERSIONED:
        path = staging_dir("vtab_") + "/orders_v"
        orders = load_table(spark, sf_dir, "orders")
        write_version(spark, _orders_v0(orders), path)
        write_version(spark, _orders_v1(orders), path)
        _VERSIONED[sf_dir] = path
    return _VERSIONED[sf_dir]


@register(
    "q73_change_feed",
    """
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey % 7 != 0
    ),
    v1 AS (
        SELECT o_orderkey, o_orderstatus,
               ROUND(o_totalprice, 2) + CASE WHEN o_orderkey % 3 = 0
                                             THEN 1000.0 ELSE 0.0 END AS price
        FROM orders WHERE o_orderkey % 5 != 0
    )
    SELECT n.o_orderkey, n.o_orderstatus, n.price,
           'insert' AS _change_type
    FROM v1 n LEFT JOIN v0 o USING (o_orderkey) WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, o.price, 'delete'
    FROM v0 o LEFT JOIN v1 n USING (o_orderkey) WHERE n.o_orderkey IS NULL
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, o.price, 'update_preimage'
    FROM v0 o JOIN v1 n USING (o_orderkey)
    WHERE (o.price, o.o_orderstatus) IS DISTINCT FROM (n.price, n.o_orderstatus)
    UNION ALL
    SELECT n.o_orderkey, n.o_orderstatus, n.price, 'update_postimage'
    FROM v0 o JOIN v1 n USING (o_orderkey)
    WHERE (o.price, o.o_orderstatus) IS DISTINCT FROM (n.price, n.o_orderstatus)
    """,
    doc="Change feed between table versions (Delta CDF emulation over "
    "Parquet snapshots): full-outer key join of v0/v1 emitting insert "
    "/ delete / update_preimage / update_postimage rows. Copy-on-"
    "write snapshot dirs + manifest swap give atomic commits and "
    "reproducible diffs between any two historical versions.",
)
def q73_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _build_versions(spark, sf_dir)
    return snapshot_diff(
        read_version(spark, path, 0),
        read_version(spark, path, 1),
        ["o_orderkey"],
    )


@register(
    "q74_time_travel",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey % 7 != 0
    """,
    doc="Time travel: after version 1 is committed, reading version 0 "
    "still returns the original snapshot byte-for-byte (immutable "
    "snapshot dirs; the manifest swap never mutates history).",
)
def q74_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _build_versions(spark, sf_dir)
    return read_version(spark, path, 0)


@register(
    "q75_incremental_agg",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS revenue,
           -- scale-first round (q208 recipe): the quantity AVG is an
           -- exact-integer-sum quotient, bit-identical across
           -- engines, but ROUND(x, 6) resolves its decimal ties
           -- differently per engine; scale-0 rounds agree
           ROUND(1000000 * AVG(l_quantity)) / 1000000.0 AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Incremental aggregation via mergeable partial states: the "
    "'already ingested' half of lineitem is pre-aggregated to "
    "(sum, count) partials persisted as a state table; the new batch "
    "produces its own partials; merging is a union + re-sum on the "
    "group key. AVG is finalized from merged sum/count — never from "
    "averaging averages. This is the 100 TB rollup pattern: state is "
    "group-cardinality-sized, each increment touches only new data.",
)
def q75_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def partials(df: DataFrame) -> DataFrame:
        # integer-cent partials (q212 recipe, knife_edge_audit): exact
        # partials are also the better mergeable-state design — the
        # merged sum is bit-identical no matter how increments arrive
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_price"),
            F.sum("l_quantity").alias("sum_qty"),
        )

    state_dir = staging_dir("aggstate_") + "/state"
    partials(li.filter(F.col("l_orderkey") % 2 == 0)).write.parquet(state_dir)
    state = spark.read.parquet(state_dir)
    batch = partials(li.filter(F.col("l_orderkey") % 2 != 0))
    merged = (
        state.unionByName(batch)
        .groupBy("l_returnflag")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum("sum_price").alias("sp"),
            F.sum("sum_qty").alias("sq"),
        )
    )
    return merged.select(
        "l_returnflag",
        "n",
        F.round(F.col("sp").cast("double") / 100, 2).alias("revenue"),
        # scale-first round: see the oracle comment
        (F.round(1000000 * (F.col("sq") / F.col("n"))) / 1000000.0).alias(
            "avg_qty"
        ),
    )
