"""Round-3 gates, batch 18: the TPC-H remainder, part 1 — the decision
-support shapes not yet gated (q01/q86/q181/q182 cover Q1/Q5/Q3/Q10).
These exercise the planner features that matter at 100 TB and that the
earlier star-join gates don't: correlated min-cost subqueries (Q2),
EXISTS semi-joins with non-equi residuals (Q4), nation-pair
disjunctive join graphs (Q7), conditional-aggregate market share (Q8),
multi-fact profit attribution (Q9), and the left-outer count-of-counts
distribution (Q13).

The fixture schema is reduced TPC-H (TESTDATA.md: no partsupp, no
commit/receipt dates), so each query adapts the official shape to the
columns that exist and documents the substitution. Reference parity:
the reference's query surface is the generic Spark SQL passthrough
(reference framework.py:188-199 spark.sql); these gates pin the same
ANSI semantics against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q208
@register(
    "q208_mincost_supplier",
    """
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey AS bk, MIN(unit_cost) AS best_cost
        FROM supply GROUP BY l_partkey
    )
    SELECT p_partkey, p_brand, s_name,
           ROUND(s_acctbal, 2) AS acctbal,
           -- ROUND(x, 4) diverges on decimal half-boundaries: Spark
           -- rounds the EXACT binary expansion (…24999… -> down)
           -- while DuckDB rounds the FP-scaled value (…2.5 -> up).
           -- Scaling by 1e4 FIRST makes the tie dyadic-exact, where
           -- both engines' scale-0 rounds agree (caught by the r7
           -- multi-seed sweep, seed 911 / sf0.009).
           ROUND(10000 * unit_cost) / 10000.0 AS unit_cost
    FROM supply
    JOIN best ON l_partkey = bk AND unit_cost = best_cost
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size <= 10
    ORDER BY acctbal DESC, p_partkey, s_name
    LIMIT 20
    """,
    doc="TPC-H Q2 (minimum-cost supplier) shape: for each small part, "
    "the supplier(s) offering it at the global minimum unit price — "
    "the correlated `cost = (SELECT MIN(cost) ...)` subquery of the "
    "official query, decorrelated into an aggregate + equality "
    "self-join, which is exactly what Catalyst's subquery rewrite "
    "produces. The fixture has no partsupp table (TESTDATA.md), so "
    "the observed price list is derived from lineitem: per-(part, "
    "supplier) MIN(l_extendedprice / l_quantity). Both groupings hash "
    "on l_partkey so the supply->best->join chain reuses one "
    "partitioning; part and supplier are broadcast dims. The double "
    "equality join is engine-safe: both engines take MIN over the "
    "identical set of IEEE quotients, so the bit patterns match. The "
    "display round scales by 1e4 BEFORE rounding — ROUND(x, 4) "
    "itself resolves decimal half-boundaries differently per engine.",
)
def q208_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = supply.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        supply.join(
            best,
            (supply["l_partkey"] == best["bk"])
            & (supply["unit_cost"] == best["best_cost"]),
        )
        .join(F.broadcast(p.filter(F.col("p_size") <= 10)),
              supply["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), supply["l_suppkey"] == s["s_suppkey"])
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            # scale-first round: engine-consistent on half-boundaries
            # (see the oracle comment)
            (F.round(10000 * F.col("unit_cost")) / 10000.0).alias(
                "unit_cost"
            ),
        )
        .orderBy(F.col("acctbal").desc(), "p_partkey", "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------- q209
@register(
    "q209_priority_late_ship",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 (order-priority checking) shape: orders of one year "
    "that had at least one lineitem shipped more than 60 days after "
    "the order date, counted per priority. The fixture lacks "
    "l_commitdate/l_receiptdate, so 'late' is ship-vs-order lag — the "
    "same correlated EXISTS with a non-equi residual. Spark plans "
    "this as LeftSemi on the l_orderkey equi-key with the date "
    "comparison as a join residual: one shuffle, no duplicate "
    "explosion (semi-join short-circuits on first match), and the "
    "orders year-filter is pushed to the parquet scan so only ~1/6 of "
    "the fact table enters the join.",
)
def q209_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- q210
@register(
    "q210_nation_pair_volume",
    """
    WITH nn AS (SELECT MIN(n_name) AS na, MAX(n_name) AS nb FROM nation)
    SELECT supp_nation, cust_nation, l_year,
           -- cent-quantized per row (the q212 recipe): a raw double
           -- SUM is order-dependent across engines and flips the
           -- final cent on a .005 knife edge (caught by the r7
           -- multi-seed sweep, seed 8128 / sf0.013).
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS INT) AS l_year,
               CAST(ROUND(100 * l_extendedprice * (1 - l_discount))
                   AS BIGINT) AS cents
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey, nn
        WHERE (n1.n_name = na AND n2.n_name = nb)
           OR (n1.n_name = nb AND n2.n_name = na)
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping) shape: bilateral trade between two "
    "nations (derived in-query as MIN/MAX n_name so no fixture "
    "vocabulary is hardcoded), by shipper nation, customer nation, "
    "and ship year. The join graph routes the fact table through BOTH "
    "dimension paths (supplier->nation and orders->customer->nation) "
    "with a disjunctive pair predicate that only becomes decidable "
    "after both joins — the planner must keep the dims broadcast and "
    "evaluate the OR as a post-join filter. lineitem->orders is the "
    "only real shuffle; supplier/customer/nation all broadcast.",
)
def q210_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nn = n.agg(F.min("n_name").alias("na"), F.max("n_name").alias("nb"))
    n1 = n.select(
        F.col("n_nationkey").alias("n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2key"))
        .crossJoin(F.broadcast(nn))
        .filter(
            ((F.col("supp_nation") == F.col("na")) & (F.col("cust_nation") == F.col("nb")))
            | ((F.col("supp_nation") == F.col("nb")) & (F.col("cust_nation") == F.col("na")))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            # cent-quantized per row — order-free exact sum (see the
            # oracle comment)
            F.round(
                F.sum(
                    cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
                ).cast("double")
                / 100,
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------- q211
@register(
    "q211_market_share",
    """
    WITH tgt AS (SELECT MIN(n_name) AS tn FROM nation),
    pt AS (SELECT MIN(p_type) AS ptype FROM part)
    SELECT o_year,
           -- integer-cent volumes (q212 recipe: the raw product-sums
           -- are order-dependent) + scale-first round (q208 recipe:
           -- the share quotient can tie on a 5e-5 decimal boundary)
           ROUND(10000 * (CAST(SUM(CASE WHEN supp_nation = tn
                                        THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE))) / 10000.0 AS mkt_share
    FROM (
        SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
               CAST(ROUND(100 * (l_extendedprice * (1 - l_discount)))
                    AS BIGINT) AS volume,
               n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey, pt
        WHERE p_type = ptype
    ), tgt
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 (national market share) shape: the target nation's "
    "share of revenue in one part-type segment, per order year — the "
    "canonical conditional-aggregate ratio (SUM(CASE)/SUM) computed "
    "in ONE pass over the joined fact, not two scans. Target nation "
    "and part type are derived in-query (MIN over the dims). The "
    "part-type filter lands on the broadcast part dim, pre-shrinking "
    "the fact before the orders shuffle join; nation/supplier/part "
    "all broadcast, so the plan has a single exchange plus the final "
    "group-by-year (which AQE coalesces to a handful of partitions).",
)
def q211_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    tgt = n.agg(F.min("n_name").alias("tn"))
    pt = p.agg(F.min("p_type").alias("ptype"))
    pf = p.crossJoin(F.broadcast(pt)).filter(F.col("p_type") == F.col("ptype"))
    # integer-cent volumes + scale-first round: see the oracle comment
    vol = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(pf), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .crossJoin(F.broadcast(tgt))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.round(
                    10000
                    * (
                        F.sum(
                            F.when(F.col("n_name") == F.col("tn"), vol)
                            .otherwise(F.lit(0))
                        ).cast("double")
                        / F.sum(vol).cast("double")
                    )
                )
                / 10000.0
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------- q212
@register(
    "q212_product_profit",
    """
    SELECT nation, o_year,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS profit
    FROM (
        SELECT n_name AS nation,
               CAST(YEAR(o_orderdate) AS INT) AS o_year,
               -- cent-quantize PER ROW: the row-local double is
               -- bit-identical on both engines, but a raw double SUM
               -- is order-dependent and ROUND(sum, 2) flips by a cent
               -- when the true value sits on a .005 knife edge
               -- (caught by the r7 multi-seed fixture sweep); the
               -- integer cents sum is order-free and exact.
               CAST(ROUND(100 * (l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity)) AS BIGINT)
                 AS cents
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN part ON p_partkey = l_partkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%o%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
    doc="TPC-H Q9 (product-type profit) shape: profit attributed to "
    "supplier nation and order year for parts matching a name "
    "pattern. The fixture has no partsupp.ps_supplycost, so unit cost "
    "is modeled as 0.5 * p_retailprice (documented substitution — the "
    "aggregation and join topology are the point, not the cost "
    "model). The LIKE lands on the broadcast part dim; the fact "
    "shuffles once to meet orders; supplier/nation broadcast. Profit "
    "per group is a single fused arithmetic expression inside the "
    "hash aggregate — whole-stage codegen keeps it JVM-side.",
)
def q212_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%o%"))
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    # cent-quantized per row: row-local doubles are bit-identical
    # across engines; only the SUM order isn't — integer cents make
    # the aggregate order-free (see the oracle comment).
    cents_col = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(F.sum(cents_col).cast("double") / 100, 2).alias(
                "profit"
            )
        )
        .orderBy("nation", "o_year")
    )


# ---------------------------------------------------------------- q213
@register(
    "q213_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey
         AND o_orderpriority <> (SELECT MIN(o_orderpriority) FROM orders)
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 (customer distribution) shape: the order-count "
    "histogram over ALL customers — including zero-order ones, which "
    "is why the filter must live in the LEFT JOIN's ON clause, not "
    "WHERE (a WHERE would silently drop the customers the query "
    "exists to count). The excluded priority class is derived "
    "in-query. Spark expresses the ON-clause filter by pre-filtering "
    "the right side before the left join (equivalent by outer-join "
    "algebra); COUNT(o_orderkey) counts only matched rows because "
    "COUNT skips NULLs. Two shuffles total (join + count-of-counts "
    "re-agg, the second over a tiny domain).",
)
def q213_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.relational import (
        left_join_count_histogram,
    )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    minp = o.agg(F.min("o_orderpriority").alias("minp"))
    of = (
        o.crossJoin(F.broadcast(minp))
        .filter(F.col("o_orderpriority") != F.col("minp"))
        .select("o_custkey")
    )
    return left_join_count_histogram(
        c.select("c_custkey"), of, "c_custkey", "o_custkey",
        count_col="c_count", dist_col="custdist",
    ).orderBy(F.col("custdist").desc(), F.col("c_count").desc())
