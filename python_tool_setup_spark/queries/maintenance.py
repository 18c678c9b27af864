"""Layout-maintenance and join-strategy queries (SURVEY.md §2.4 M2/M3
+ the skew/bucketing scale paths).

Each runs the REAL maintenance/strategy operator against temp targets
and returns a relation whose contents must be IDENTICAL to computing
directly over the source — proving the physical rewrite (compaction,
clustering, salting, bucketing) never changes query results.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.ingestion.maintenance import optimize_layout
from python_tool_setup_spark.operators.skew import (
    bucketed_join,
    create_bucketed_table,
    salted_join,
)
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir

# sf_dir -> (orders_table, lineitem_table) built once per corpus
_BUCKETED: dict[str, tuple[str, str]] = {}
# sf_dir -> fragmented lineitem dir reused as compaction input
_FRAGMENTED: dict[str, str] = {}
# sf_dir -> pristine bucketed merge target copied per run
_BUCKETED_TGT: dict[str, str] = {}


@register(
    "q61_compaction",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="OPTIMIZE-equivalent compaction (M2): fragment lineitem into "
    "64 small files, compact via staged rewrite + atomic rename, "
    "aggregate the readback — identical to aggregating the source.",
)
def q61_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    # the fragmented layout is test SETUP (simulating a day of small
    # appends), not the operator under test — build it once per corpus
    # and hand each run a cheap local copy to compact
    if sf_dir not in _FRAGMENTED:
        frag = staging_dir("compact_src_")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice"
        )
        li.repartition(64).write.mode("overwrite").parquet(frag)
        _FRAGMENTED[sf_dir] = frag
    target = staging_dir("compact_") + "/t"
    shutil.copytree(_FRAGMENTED[sf_dir], target)
    optimize_layout(spark, path=target)
    return (
        spark.read.parquet(target)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("total_price"),
        )
    )


@register(
    "q62_zorder_cluster",
    """
    SELECT COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders
    WHERE o_custkey BETWEEN 1000 AND 2000
    """,
    doc="Z-order-style clustering (M3): repartitionByRange + "
    "sortWithinPartitions on o_custkey, then a range predicate on the "
    "clustered readback — row-group min/max stats give the data-"
    "skipping effect; results identical to the unclustered source.",
)
def q62_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = staging_dir("zorder_")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").parquet(target)
    optimize_layout(spark, path=target, zorder_by=["o_custkey"])
    return (
        spark.read.parquet(target)
        .filter(F.col("o_custkey").between(1000, 2000))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


@register(
    "q63_salted_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Skew-resistant salted join: big side salted per row, small "
    "side exploded per salt — result identical to the plain equi-join, "
    "but a hot key spreads over salt_buckets shuffle partitions.",
)
def q63_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    joined = salted_join(orders, cust, ["custkey"], salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
    )


@register(
    "q64_bucketed_join",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           -- cent-quantize PER ROW (the q212 recipe): row-local
           -- doubles are bit-identical across engines, but a raw
           -- double SUM is order-dependent and flips the final cent
           -- on a .005 knife edge (caught by the r7 multi-seed
           -- sweep, seed 314 / sf0.008).
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice
               * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS net
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    doc="Exchange-free co-located join: orders and lineitem bucketed "
    "16-way on the join key at write time; the sort-merge join then "
    "shuffles NEITHER side (asserted in tests via plan inspection). "
    "This is the write-once/join-many pattern for 100 TB fact tables.",
)
def q64_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucketing is write-once/join-many: build the bucketed tables the
    # first time a corpus is queried, reuse them afterwards.
    if sf_dir not in _BUCKETED:
        run = uuid.uuid4().hex[:8]
        lt, rt = f"orders_b_{run}", f"lineitem_b_{run}"
        create_bucketed_table(
            spark,
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            ),
            lt,
            ["o_orderkey"],
            16,
            location=staging_dir("bkt_o_"),
            sort_cols=["o_orderkey"],
        )
        create_bucketed_table(
            spark,
            load_table(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o_orderkey"), "l_discount"
            ),
            rt,
            ["o_orderkey"],
            16,
            location=staging_dir("bkt_l_"),
            sort_cols=["o_orderkey"],
        )
        _BUCKETED[sf_dir] = (lt, rt)
    lt, rt = _BUCKETED[sf_dir]
    joined = bucketed_join(spark, lt, rt, ["o_orderkey"])
    # cent-quantized per row (the q212 recipe): integer cents make the
    # aggregate order-free — see the oracle comment.
    cents_col = cents(F.col("o_totalprice"), 1 - F.col("l_discount"))
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(cents_col).cast("double") / 100, 2).alias("net"),
    )


_MORTON_SQL = """
    SELECT CAST((((((l_partkey % 1024) >> 0) & 1) << 1) + ((((l_suppkey % 1024) >> 0) & 1) << 0) + ((((l_partkey % 1024) >> 1) & 1) << 3) + ((((l_suppkey % 1024) >> 1) & 1) << 2) + ((((l_partkey % 1024) >> 2) & 1) << 5) + ((((l_suppkey % 1024) >> 2) & 1) << 4) + ((((l_partkey % 1024) >> 3) & 1) << 7) + ((((l_suppkey % 1024) >> 3) & 1) << 6) + ((((l_partkey % 1024) >> 4) & 1) << 9) + ((((l_suppkey % 1024) >> 4) & 1) << 8) + ((((l_partkey % 1024) >> 5) & 1) << 11) + ((((l_suppkey % 1024) >> 5) & 1) << 10) + ((((l_partkey % 1024) >> 6) & 1) << 13) + ((((l_suppkey % 1024) >> 6) & 1) << 12) + ((((l_partkey % 1024) >> 7) & 1) << 15) + ((((l_suppkey % 1024) >> 7) & 1) << 14) + ((((l_partkey % 1024) >> 8) & 1) << 17) + ((((l_suppkey % 1024) >> 8) & 1) << 16) + ((((l_partkey % 1024) >> 9) & 1) << 19) + ((((l_suppkey % 1024) >> 9) & 1) << 18)) AS BIGINT) >> 14 AS cell,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """


@register(
    "q80_morton_cells",
    _MORTON_SQL,
    doc="True Z-order (Morton) clustering: bit-interleave two key "
    "columns into a space-filling-curve code (pure shift/mask integer "
    "math, whole-stage codegen), bucket rows by coarse curve cell. "
    "Ordering rows by this code gives BOTH columns tight per-file "
    "min/max ranges (multi-column data skipping); the engine's "
    "OPTIMIZE ZORDER path (q62) clusters by range instead.",
)
def q80_morton_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.ingestion.maintenance import morton_code

    li = load_table(spark, sf_dir, "lineitem")
    code = morton_code(F.col("l_partkey") % 1024, F.col("l_suppkey") % 1024, bits=10)
    return (
        li.select(F.shiftright(code, 14).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q89_bucketed_merge",
    """
    WITH src AS (
        SELECT o_orderkey, ROUND(o_totalprice + 5000, 2) AS price
        FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT o.o_orderkey,
           COALESCE(s.price, ROUND(o.o_totalprice, 2)) AS price
    FROM orders o LEFT JOIN src s USING (o_orderkey)
    """,
    doc="Partition-pruned MERGE (the 100 TB shape of the Parquet "
    "fallback): target laid out as hash-bucket partition dirs, a "
    "source touching ~1/11 of keys rewrites ONLY the buckets it "
    "hashes into — untouched bucket dirs are never read, rewritten "
    "or renamed (asserted via dir mtimes in tests). Work is "
    "O(touched buckets), not O(table), matching Delta's file-pruned "
    "join MERGE.",
)
def q89_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from python_tool_setup_spark.operators.merge import (
        merge_upsert_bucketed,
        read_bucketed_target,
        write_bucketed_target,
    )

    # the bucketed layout is the write-once build artifact; the merge
    # under test mutates a cheap local copy of it each run
    if sf_dir not in _BUCKETED_TGT:
        base = staging_dir("bmerge_src_") + "/t"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.round("o_totalprice", 2).alias("price")
        )
        write_bucketed_target(orders, base, ["o_orderkey"], num_buckets=16)
        _BUCKETED_TGT[sf_dir] = base
    target = staging_dir("bmerge_") + "/t"
    shutil.copytree(_BUCKETED_TGT[sf_dir], target)
    src = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 11 == 0
    ).select(
        "o_orderkey", F.round(F.col("o_totalprice") + 5000, 2).alias("price")
    )
    merge_upsert_bucketed(spark, target, src, ["o_orderkey"], num_buckets=16)
    return read_bucketed_target(spark, target)


@register(
    "q107_skew_report",
    """
    WITH counts AS (
        SELECT user_id, COUNT(*) AS key_rows FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT SUM(key_rows) AS total, COUNT(*) AS nkeys FROM counts
    )
    SELECT user_id, CAST(key_rows AS BIGINT) AS key_rows,
           -- scale-first rounds (q208 recipe): decimal-reachable ties
           ROUND(1000000 * (CAST(key_rows AS DOUBLE) / total))
               / 1000000.0 AS row_share,
           ROUND(10000 * (key_rows / (CAST(total AS DOUBLE) / nkeys)))
               / 10000.0 AS skew_factor
    FROM counts, stats
    ORDER BY key_rows DESC, user_id
    LIMIT 10
    """,
    doc="Hot-key skew diagnostics (the pre-flight for salted_join/AQE "
    "skew handling): top-10 heaviest join keys with row share and "
    "skew factor, from one map-side-combined aggregate + a top-k — "
    "nothing collected, safe on the full fact table.",
)
def q107_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.skew import skew_report

    return skew_report(load_table(spark, sf_dir, "events"), ["user_id"], 10)
