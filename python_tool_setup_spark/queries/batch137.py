"""Round-5 gates, batch 137: deletion-cascade audit (q485 — the
GDPR/right-to-be-forgotten completeness check: given a set of
customer keys to forget, measure every table's exposure (rows that
reference the forgotten keys directly or through an FK chain) and
prove the planned cascade (anti-join at each hop) leaves zero
orphans — the audit a deletion pipeline must pass before and after
running `forget_keys`) and snapshot diff report (q486 — the Delta
CDF / time-travel diff every lakehouse debugging session starts
with: two versions of a table full-outer-joined on the key,
classified into added / removed / changed / unchanged, with
per-column change counts so you can see WHICH columns drifted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# Forgotten set for the cascade audit: customers whose key is
# congruent to 7 mod 100 — deterministic, ~1% of the dimension.
_FORGET_MOD, _FORGET_REM = 100, 7


@register(
    "q485_deletion_cascade_audit",
    f"""
    WITH forget AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % {_FORGET_MOD} = {_FORGET_REM}
    ),
    hit_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM forget)
    ),
    stats AS (
        SELECT 'customer' AS table_name,
               (SELECT COUNT(*) FROM customer) AS n_rows,
               (SELECT COUNT(*) FROM forget) AS n_exposed,
               (SELECT COUNT(*) FROM customer
                WHERE c_custkey % {_FORGET_MOD} = {_FORGET_REM}
                  AND c_custkey NOT IN
                      (SELECT c_custkey FROM forget)) AS n_residual
        UNION ALL
        SELECT 'orders',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM hit_orders),
               (SELECT COUNT(*) FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM forget)
                  AND o_orderkey NOT IN
                      (SELECT o_orderkey FROM hit_orders))
        UNION ALL
        SELECT 'lineitem',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey IN
                    (SELECT o_orderkey FROM hit_orders)),
               0
    )
    SELECT table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_exposed AS BIGINT) AS n_exposed,
           CAST(ROUND(n_exposed * 1000000.0 / n_rows) AS BIGINT)
               AS exposed_ppm,
           CAST(n_residual AS BIGINT) AS n_residual_after_cascade,
           n_residual = 0 AS cascade_complete
    FROM stats ORDER BY table_name
    """,
    doc="Deletion-cascade audit (GDPR / right-to-be-forgotten "
    "completeness: before running a forget pipeline you need each "
    "table's exposure — rows referencing the forgotten keys "
    "directly or through the FK chain — and after it you need "
    "proof of zero residuals): the forgotten key set is a "
    "deterministic 1% of the customer dimension; exposure "
    "cascades customer -> orders (semi-join on custkey) -> "
    "lineitem (semi-join on the hit orderkeys); the residual "
    "check applies the planned cascade (anti-join at each hop) "
    "and counts survivors that still reference forgotten keys — "
    "zero proves the plan closes. Spark side uses left_semi / "
    "left_anti joins (the forgotten-key side broadcast); at 100 "
    "TB the semi-join is one shuffle-free broadcast probe per "
    "table, and the audit output is one row per table.",
)
def q485_deletion_cascade_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    forget = cust.filter(
        F.col("c_custkey") % _FORGET_MOD == _FORGET_REM
    ).select("c_custkey")
    hit_orders = orders.join(
        F.broadcast(forget),
        orders.o_custkey == forget.c_custkey,
        "left_semi",
    ).select("o_orderkey")
    # Planned cascade: delete = anti-join each table against the key
    # set; residual = survivors that still reference forgotten keys.
    cust_kept = cust.join(
        F.broadcast(forget), "c_custkey", "left_anti"
    )
    cust_residual = cust_kept.filter(
        F.col("c_custkey") % _FORGET_MOD == _FORGET_REM
    )
    orders_kept = orders.join(
        F.broadcast(hit_orders), "o_orderkey", "left_anti"
    )
    orders_residual = orders_kept.join(
        F.broadcast(forget),
        orders_kept.o_custkey == forget.c_custkey,
        "left_semi",
    )
    li_exposed = li.join(
        F.broadcast(hit_orders),
        li.l_orderkey == hit_orders.o_orderkey,
        "left_semi",
    )

    def one(name: str, base: DataFrame, exposed: DataFrame,
            residual) -> DataFrame:
        n = base.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        e = exposed.agg(
            F.count(F.lit(1)).cast("long").alias("n_exposed")
        )
        if residual is None:
            r = spark.range(1).select(
                F.lit(0).cast("long").alias("n_residual")
            )
        else:
            r = residual.agg(
                F.count(F.lit(1)).cast("long").alias("n_residual")
            )
        return (
            n.crossJoin(e)
            .crossJoin(r)
            .select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "n_exposed",
                F.round(F.col("n_exposed") * 1000000.0 / F.col("n_rows"))
                .cast("long")
                .alias("exposed_ppm"),
                F.col("n_residual").alias("n_residual_after_cascade"),
                (F.col("n_residual") == 0).alias("cascade_complete"),
            )
        )

    out = (
        one("customer", cust, forget, cust_residual)
        .unionByName(one("orders", orders, hit_orders, orders_residual))
        .unionByName(one("lineitem", li, li_exposed, None))
    )
    return out.orderBy("table_name")


# ---------------------------------------------------------------- q486
# Snapshot v2 is derived from v1 (= orders) by deterministic edits:
# price bump on keys % 97 == 0, status flip on keys % 89 == 0,
# removal of keys % 101 == 0. "Added" rows are modeled by removing
# them from v1 instead (same diff semantics, no synthetic keys).
_DIFF_COLS = ["o_totalprice_cents", "o_orderstatus", "o_orderpriority"]


@register(
    "q486_snapshot_diff_report",
    """
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   AS o_totalprice_cents,
               o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 103 <> 0
    ),
    v2 AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 97 = 0
                    THEN CAST(ROUND(101 * o_totalprice) AS BIGINT)
                    ELSE CAST(ROUND(100 * o_totalprice) AS BIGINT)
               END AS o_totalprice_cents,
               CASE WHEN o_orderkey % 89 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_orderpriority
        FROM orders WHERE o_orderkey % 101 <> 0
    ),
    j AS (
        SELECT COALESCE(v1.k, v2.k) AS k,
               v1.k IS NULL AS added, v2.k IS NULL AS removed,
               v1.o_totalprice_cents IS DISTINCT FROM
                   v2.o_totalprice_cents AND v1.k IS NOT NULL
                   AND v2.k IS NOT NULL AS ch_price,
               v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
                   AND v1.k IS NOT NULL AND v2.k IS NOT NULL
                   AS ch_status,
               v1.o_orderpriority IS DISTINCT FROM
                   v2.o_orderpriority AND v1.k IS NOT NULL
                   AND v2.k IS NOT NULL AS ch_priority
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN ch_price OR ch_status OR ch_priority
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN NOT added AND NOT removed
                    AND NOT (ch_price OR ch_status OR ch_priority)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN ch_price THEN 1 ELSE 0 END) AS BIGINT)
               AS changed_o_totalprice_cents,
           CAST(SUM(CASE WHEN ch_status THEN 1 ELSE 0 END) AS BIGINT)
               AS changed_o_orderstatus,
           CAST(SUM(CASE WHEN ch_priority THEN 1 ELSE 0 END)
               AS BIGINT) AS changed_o_orderpriority
    FROM j
    """,
    doc="Snapshot diff report (the Delta-CDF / time-travel diff "
    "every lakehouse debugging session starts with: two table "
    "versions full-outer-joined on the key, every row classified "
    "added / removed / changed / unchanged, plus per-column "
    "change counts to show WHICH columns drifted). Versions are "
    "derived deterministically from the same base (price bump on "
    "keys%97, status flip on keys%89, disjoint removals on "
    "keys%101 / %103) so the expected counts are provable; "
    "comparisons use null-safe IS DISTINCT FROM (Spark eqNullSafe "
    "negation), money compared in exact cents. Scale: one "
    "co-partitioned full-outer join on the snapshot key + one "
    "aggregate; at 100 TB both snapshots bucket by the key, so "
    "the join is shuffle-free and the report is one row.",
)
def q486_snapshot_diff_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    v1 = o.filter(F.col("o_orderkey") % 103 != 0).select(
        F.col("o_orderkey").alias("k"),
        cents_col.alias("o_totalprice_cents"),
        "o_orderstatus",
        "o_orderpriority",
    )
    v2 = o.filter(F.col("o_orderkey") % 101 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.round(101 * F.col("o_totalprice")).cast("long"),
        )
        .otherwise(cents_col)
        .alias("o_totalprice_cents"),
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    v1a = v1.select(
        F.col("k").alias("k1"),
        *[F.col(c).alias(f"l_{c}") for c in _DIFF_COLS],
    )
    v2a = v2.select(
        F.col("k").alias("k2"),
        *[F.col(c).alias(f"r_{c}") for c in _DIFF_COLS],
    )
    j = v1a.join(v2a, v1a.k1 == v2a.k2, "full_outer")
    present = F.col("k1").isNotNull() & F.col("k2").isNotNull()
    ch = {
        c: present
        & ~F.col(f"l_{c}").eqNullSafe(F.col(f"r_{c}"))
        for c in _DIFF_COLS
    }
    any_ch = ch[_DIFF_COLS[0]]
    for c in _DIFF_COLS[1:]:
        any_ch = any_ch | ch[c]
    return j.agg(
        F.sum(F.col("k1").isNull().cast("long"))
        .cast("long")
        .alias("n_added"),
        F.sum(F.col("k2").isNull().cast("long"))
        .cast("long")
        .alias("n_removed"),
        F.sum(any_ch.cast("long")).cast("long").alias("n_changed"),
        F.sum((present & ~any_ch).cast("long"))
        .cast("long")
        .alias("n_unchanged"),
        *[
            F.sum(ch[c].cast("long"))
            .cast("long")
            .alias(f"changed_{c}")
            for c in _DIFF_COLS
        ],
    )
