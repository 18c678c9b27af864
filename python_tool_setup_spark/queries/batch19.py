"""Round-3 gates, batch 19: the TPC-H remainder, part 2 — promo
revenue ratio (Q14), top supplier via scalar-max subquery (Q15),
small-quantity correlated average (Q17), large-volume customers via
HAVING-IN (Q18), disjunctive multi-table predicates (Q19), the
waiting-supplier EXISTS/NOT-EXISTS chain (Q21), and dormant high-value
customers (Q22). Together with batch 18 this closes the classic
decision-support shape inventory; fixture-schema substitutions are
documented per query (reduced TPC-H: TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q214
@register(
    "q214_promo_revenue",
    """
    SELECT -- integer-cent revenues (q212 recipe) + scale-first round
           -- (q208 recipe): order-free sums, tie-free final round
           ROUND(10000 * (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(ROUND(100 * (l_extendedprice
                            * (1 - l_discount))) AS BIGINT)
                       ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(ROUND(100 * (l_extendedprice
                       * (1 - l_discount))) AS BIGINT)) AS DOUBLE)))
               / 10000.0 AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14 (promotion effect) shape: the percentage of one "
    "month's revenue from PROMO-typed parts — SUM(CASE)/SUM in a "
    "single aggregate pass ('PROMO' is the fixture's literal p_type "
    "category, mirroring the official query's 'PROMO%' prefix). The "
    "month filter prunes the lineitem scan to ~1.2%% of rows "
    "(PushedFilters on l_shipdate); part broadcasts, so the whole "
    "query is scan -> broadcast join -> one scalar hash aggregate "
    "with zero wide shuffles.",
)
def q214_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    # integer-cent revenues + scale-first round: see the oracle comment
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.round(
                    10000
                    * (
                        100.0
                        * F.sum(
                            F.when(F.col("p_type") == "PROMO", rev_c)
                            .otherwise(F.lit(0))
                        ).cast("double")
                        / F.sum(rev_c).cast("double")
                    )
                )
                / 10000.0
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------- q215
@register(
    "q215_top_supplier",
    """
    WITH revenue AS (
        -- cent-quantized per row (q212 recipe): exact integer sums
        -- make BOTH the argmax tie and the final round order-free
        SELECT l_suppkey,
               SUM(CAST(ROUND(100 * l_extendedprice * (1 - l_discount))
                   AS BIGINT)) AS rev_c
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(rev_c AS DOUBLE) / 100, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE rev_c = (SELECT MAX(rev_c) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 (top supplier) shape: the supplier(s) with maximum "
    "revenue in one quarter, selected by a scalar-MAX subquery over a "
    "derived revenue view — the official query's CREATE VIEW + "
    "correlated max, expressed as an aggregate reused twice. Spark "
    "computes the per-supplier revenue ONCE, derives the scalar max "
    "from it as a 1-row broadcast, and filters by equality; each "
    "engine compares its own sums to its own max, so the argmax is "
    "engine-consistent. One shuffle (the group-by); supplier dim "
    "broadcasts.",
)
def q215_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # cent-quantized per row: exact integer sums make BOTH the argmax
    # tie and the final round order-free (q212 recipe)
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(
            cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
        ).alias("rev_c")
    )
    mx = revenue.agg(F.max("rev_c").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_c").cast("double") / 100, 2).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------- q216
@register(
    "q216_small_quantity_revenue",
    """
    WITH pavg AS (
        SELECT l_partkey AS ak, 0.5 * AVG(l_quantity) AS qlim
        FROM lineitem GROUP BY l_partkey
    )
    -- cent-quantized sum + scale-first round (q212/q208 recipes)
    SELECT ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
               AS DOUBLE) / 7.0) / 100.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg ON ak = l_partkey
    WHERE p_brand = (SELECT MIN(p_brand) FROM part)
      AND l_quantity < qlim
    """,
    doc="TPC-H Q17 (small-quantity-order revenue) shape: revenue lost "
    "to orders below 50%% of a part's average order quantity, for one "
    "brand (derived in-query) — the correlated AVG subquery "
    "`l_quantity < (SELECT 0.5*AVG ...)`, decorrelated into a "
    "per-part aggregate joined back on l_partkey, exactly Catalyst's "
    "rewrite. The threshold is exact cross-engine: l_quantity values "
    "are integers in doubles, so SUM/COUNT — and hence AVG — are "
    "bit-identical in any summation order. Both sides of the "
    "self-join hash on l_partkey (one exchange reused); part "
    "broadcasts with the brand filter applied first.",
)
def q216_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    minb = p.agg(F.min("p_brand").alias("minb"))
    pf = (
        p.crossJoin(F.broadcast(minb))
        .filter(F.col("p_brand") == F.col("minb"))
        .select("p_partkey")
    )
    pavg = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (0.5 * F.avg("l_quantity")).alias("qlim")
    )
    return (
        li.join(F.broadcast(pf), li["l_partkey"] == pf["p_partkey"])
        .join(pavg, li["l_partkey"] == pavg["ak"])
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(
            # cent-quantized sum + scale-first round (q212/q208
            # recipes)
            (
                F.round(
                    F.sum(cents(F.col("l_extendedprice"))).cast("double") / 7.0
                )
                / 100.0
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------- q217
@register(
    "q217_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(total_qty, 1) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 (large-volume customer) shape: orders whose total "
    "quantity exceeds 300 (the official constant; per-order line "
    "counts are sf-independent so the predicate stays selective at "
    "every scale), joined back to orders and customer — the "
    "`o_orderkey IN (SELECT .. HAVING ..)` pattern as an aggregate "
    "semi-filter. SUM(l_quantity) over integer-valued doubles is "
    "exact, so the HAVING boundary cannot diverge between engines. "
    "The big-order set is tiny (~0.08%% of orders) and broadcasts "
    "into the orders join; top-20 via TakeOrderedAndProject with "
    "o_orderkey as the deterministic tiebreak.",
)
def q217_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("total_qty", 1).alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------- q218
@register(
    "q218_disjunctive_predicates",
    """
    SELECT
        -- cent-quantized per row: order-free exact sum (q212 recipe)
        ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
            * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
            AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 35)
    """,
    doc="TPC-H Q19 (discounted revenue) shape: a 3-arm disjunction "
    "where each arm mixes part attributes with lineitem attributes — "
    "the classic test of OR-predicate handling. No single-table "
    "residue of the OR can be pushed below the join without CNF "
    "extraction; Spark derives the common implied filters (brand IN "
    "(...), size <= 30, quantity <= 35) onto the scans and leaves "
    "the full disjunction as the post-join filter. part broadcasts, "
    "so the whole query remains a single scan-side pipeline into one "
    "scalar aggregate. Brand literals follow the fixture's "
    "Brand#<n> vocabulary (stable across sf).",
)
def q218_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arm = lambda brand, szhi, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, szhi)
        & q.between(qlo, qhi)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(
            arm("Brand#1", 10, 1, 15)
            | arm("Brand#2", 20, 10, 25)
            | arm("Brand#3", 30, 20, 35)
        )
        .agg(
            # cent-quantized per row - order-free exact sum
            F.round(
                F.sum(
                    cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
                ).cast("double")
                / 100,
                2,
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------- q219
@register(
    "q219_waiting_supplier",
    """
    SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 (suppliers who kept orders waiting) shape: in "
    "finished multi-supplier orders, the supplier whose shipment was "
    "the LAST to leave — the hardest subquery chain in the suite "
    "(EXISTS another-supplier line, NOT EXISTS another-supplier line "
    "shipped later; ship-vs-order lag substitutes for the missing "
    "commit/receipt dates). Rather than two correlated passes over "
    "the fact, Spark reduces lineitem ONCE to per-(order, supplier) "
    "max shipdates, derives each order's supplier count and global "
    "max from that (window over the same l_orderkey partitioning — "
    "no extra shuffle), and keeps suppliers whose own max equals the "
    "order max in a >=2-supplier order: provably the same set, since "
    "'no other supplier shipped later' is exactly 'own max >= every "
    "other max' (ties wait together in both formulations). COUNT "
    "DISTINCT orders per supplier is then exact on one row per "
    "(order, supplier).",
)
def q219_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.relational import last_to_ship

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    waits = last_to_ship(li)
    fo = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        waits.join(fo, waits["l_orderkey"] == fo["o_orderkey"], "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------- q220
@register(
    "q220_dormant_rich_customers",
    """
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-H Q22 (global sales opportunity) shape: customers with "
    "above-average positive balances and NO recent orders, counted "
    "and totalled per nation (the fixture has no phone column, so "
    "nation replaces the official country-code substring; 'no orders "
    "since 2000' replaces 'no orders ever' because every fixture "
    "customer has at least one order). Plan: the scalar average is a "
    "1-row broadcast; the NOT EXISTS is a LeftAnti join against "
    "orders pre-filtered on the pushed o_orderdate predicate; nation "
    "broadcasts. One shuffle (the anti join on custkey) plus a "
    "25-key aggregate.",
)
def q220_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    ab = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )
