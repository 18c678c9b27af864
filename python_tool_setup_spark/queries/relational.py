"""Relational-core queries (SURVEY.md §2.2 Q1-Q13, §2.1 S12, §2.4) with
DuckDB oracles.

Conventions keeping Spark and DuckDB hash-identical:
- every computed column aliased the same on both sides;
- double aggregates rounded the same (ROUND(x, n)) on both sides;
- integer sums cast to BIGINT in DuckDB (its SUM(int) widens to HUGEINT);
- year()/datediff() cast to INT in DuckDB (Spark returns int);
- output timestamps formatted as 'yyyy-MM-dd HH:mm:ss' strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, cents_sql
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark import operators as ops

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Q1+Q2+Q6+Q9 flagship — TPC-H-Q1-style pricing summary (scan, filter,
# group-agg with map-side partials, sort). Reference provenance: the
# relational tier is capability-parity [P], see SURVEY.md §2.2.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    WITH t AS (
        SELECT l_returnflag, l_linestatus, l_quantity,
               -- cent-quantized PER ROW: row-local doubles are
               -- bit-identical across engines, but raw double SUMs
               -- are order-dependent (Spark partial-agg merge vs
               -- DuckDB sequential) and ROUND(sum, 2) flips a cent on
               -- a .005 knife edge — the class the r7 multi-seed
               -- sweeps caught on q212/q64/q210. Integer cents sums
               -- are order-free and exact.
               CAST(ROUND(100 * l_extendedprice) AS BIGINT) AS price_c,
               CAST(ROUND(100 * l_extendedprice * (1 - l_discount))
                   AS BIGINT) AS disc_c,
               CAST(ROUND(100 * l_extendedprice * (1 - l_discount)
                   * (1 + l_tax)) AS BIGINT) AS charge_c,
               CAST(ROUND(100 * l_discount) AS BIGINT) AS dpct_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           ROUND(CAST(SUM(price_c) AS DOUBLE) / 100, 2)
                                          AS sum_base_price,
           ROUND(CAST(SUM(disc_c) AS DOUBLE) / 100, 2)
                                          AS sum_disc_price,
           ROUND(CAST(SUM(charge_c) AS DOUBLE) / 100, 2)
                                          AS sum_charge,
           -- scale-first rounds: ROUND(x, 4) itself resolves decimal
           -- half-boundaries differently per engine (the q208 class)
           ROUND(10000 * SUM(l_quantity) / COUNT(*)) / 10000.0
                                          AS avg_qty,
           ROUND(10000 * (CAST(SUM(price_c) AS DOUBLE) / 100)
                 / COUNT(*)) / 10000.0    AS avg_price,
           ROUND(10000 * (CAST(SUM(dpct_c) AS DOUBLE) / 100)
                 / COUNT(*)) / 10000.0    AS avg_disc,
           COUNT(*)                       AS count_order
    FROM t
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Flagship: filter + hash-agg + sort on lineitem (TPC-H Q1 shape).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # cent-quantized per row (order-free exact sums) + scale-first
    # rounds for the scale-4 averages — see the oracle comments.
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
    charge_c = cents(
        F.col("l_extendedprice"), 1 - F.col("l_discount"), 1 + F.col("l_tax")
    )
    dpct_c = cents(F.col("l_discount"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(price_c).cast("double") / 100, 2).alias(
                "sum_base_price"
            ),
            F.round(F.sum(disc_c).cast("double") / 100, 2).alias(
                "sum_disc_price"
            ),
            F.round(F.sum(charge_c).cast("double") / 100, 2).alias(
                "sum_charge"
            ),
            (F.round(10000 * F.sum("l_quantity") / cnt) / 10000.0).alias(
                "avg_qty"
            ),
            (
                F.round(
                    10000 * (F.sum(price_c).cast("double") / 100) / cnt
                )
                / 10000.0
            ).alias("avg_price"),
            (
                F.round(
                    10000 * (F.sum(dpct_c).cast("double") / 100) / cnt
                )
                / 10000.0
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_projection",
    """
    SELECT p_partkey,
           UPPER(p_name)                   AS name_upper,
           -- scale-first round (q208 recipe): the 3-decimal true
           -- product x.xx5 is a decimal half-tie that ROUND(x, 2)
           -- resolves differently per engine; a scale-0 round of the
           -- bit-identical scaled double agrees on both
           ROUND(100 * (p_retailprice * 1.1)) / 100.0 AS price_markup,
           (p_size > 25)                   AS is_large,
           p_brand                         AS brand
    FROM part
    """,
    doc="Projection: select / rename / computed columns (Q1).",
)
def q02_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        # scale-first round: see the oracle comment
        (F.round(100 * (F.col("p_retailprice") * 1.1)) / 100.0).alias(
            "price_markup"
        ),
        (F.col("p_size") > 25).alias("is_large"),
        F.col("p_brand").alias("brand"),
    )


@register(
    "q03_filter_predicates",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 1000 AND 150000
      AND o_orderpriority LIKE '1%'
      AND o_orderdate IS NOT NULL
    """,
    doc="Filter: IN / BETWEEN / LIKE / IS NOT NULL predicates (Q2); all pushed to scan.",
)
def q03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderpriority").like("1%")
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "q04_join_star",
    """
    SELECT r_name, n_name,
           -- cent-quantized per row: order-free exact sum (the q212
           -- recipe; raw double SUMs are engine-order-dependent)
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice
               * (1 - l_discount)) AS BIGINT)) AS DOUBLE) / 100, 2)
               AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    doc="5-way star join, dimensions broadcast explicitly (Q3).",
)
def q04_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            # cent-quantized per row — order-free exact sum
            F.round(
                F.sum(
                    cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))
                ).cast("double")
                / 100,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "q05_outer_join",
    """
    SELECT c_custkey,
           COUNT(o_orderkey)                          AS n_orders,
           ROUND(CAST(COALESCE(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT)),
                 0) AS DOUBLE) / 100, 2)   AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join keeping order-less customers (Q3 outer variants).",
)
def q05_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum(cents(F.col("o_totalprice"))), F.lit(0)).cast("double") / 100, 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "q06_semi_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
    doc="Left-semi join: customers having a big order (Q4).",
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        ops.semi_join(c, big, ["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q07_anti_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    doc="Left-anti join: customers with no orders at all (Q4).",
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        ops.anti_join(c, o, ["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q08_agg_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey)            AS n_customers,
           COUNT(*)                             AS n_orders,
           ROUND(MIN(o_totalprice), 2)          AS min_price,
           ROUND(MAX(o_totalprice), 2)          AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Group-agg with COUNT DISTINCT (expands to two-phase agg) (Q6).",
)
def q08_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q09_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals (Q7).",
)
def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum(cents(F.col("o_totalprice"))).cast("double") / 100, 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q10_cube",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two grouping columns (Q7).",
)
def q10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q11_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS via Spark SQL (Q7).",
)
def q11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               ROUND(CAST(SUM({cents_sql("o_totalprice")})
                      AS DOUBLE) / 100, 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "q12_window_topk",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    doc="Grouped top-k via ranking window; one shuffle on the group key (Q8/Q9).",
)
def q12_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    topk = ops.top_k(
        o,
        3,
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        partition_by=["o_custkey"],
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return topk.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
    )


@register(
    "q13_window_analytics",
    """
    SELECT event_id,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
               AS running_sum,
           CAST(RANK() OVER (PARTITION BY user_id
                             ORDER BY value DESC, event_id) AS INT) AS value_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Analytic windows: lag/lead/running frame sum/rank (Q8).",
)
def q13_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrank = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return e.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.sum("value").over(wsum), 3).alias("running_sum"),
        F.rank().over(wrank).alias("value_rank"),
    )


@register(
    "q14_sort_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
    doc="Global top-k: TakeOrderedAndProject, never a full sort (Q9).",
)
def q14_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return ops.top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        10,
        order_by=[F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"],
    )


@register(
    "q15_dedup_keys",
    """
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    doc="Deterministic dedup-by-key: latest order per customer (Q10/L1).",
)
def q15_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return ops.dedup_by_keys(
        o.select("o_custkey", "o_orderkey", "o_orderdate"),
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )


@register(
    "q16_set_ops",
    """
    WITH open_cust AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         done_cust AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'only_open' AS op, COUNT(*) AS n
      FROM (SELECT * FROM open_cust EXCEPT SELECT * FROM done_cust)
    UNION ALL
    SELECT 'both' AS op, COUNT(*) AS n
      FROM (SELECT * FROM open_cust INTERSECT SELECT * FROM done_cust)
    UNION ALL
    SELECT 'union_all_rows' AS op, COUNT(*) AS n
      FROM (SELECT * FROM open_cust UNION ALL SELECT * FROM done_cust)
    ORDER BY op
    """,
    doc="Set operations: EXCEPT / INTERSECT / UNION ALL (Q11).",
)
def q16_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    rows = [
        ("only_open", open_c.subtract(done_c)),
        ("both", open_c.intersect(done_c)),
        ("union_all_rows", open_c.unionAll(done_c)),
    ]
    out = None
    for label, df in rows:
        cnt = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(label).alias("op"), "n"
        )
        out = cnt if out is None else out.unionByName(cnt)
    return out.orderBy("op")


@register(
    "q17_string_funcs",
    """
    SELECT p_partkey,
           CONCAT(p_brand, ':', p_type)            AS brand_type,
           SUBSTRING(p_name, 1, 8)                 AS name_prefix,
           CAST(LENGTH(p_name) AS INT)             AS name_len,
           LOWER(TRIM(p_type))                     AS type_lower,
           REGEXP_EXTRACT(p_name, '([a-z]+)', 1)   AS first_word,
           CAST(CONTAINS(p_type, 'BRASS') AS BOOLEAN) AS has_brass
    FROM part
    """,
    doc="String functions: concat/substr/length/lower/trim/regexp/contains (Q12).",
)
def q17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.lower(F.trim(F.col("p_type"))).alias("type_lower"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.col("p_type").contains("BRASS").alias("has_brass"),
    )


@register(
    "q18_datetime_funcs",
    """
    SELECT CAST(YEAR(o_orderdate) AS INT)  AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           COUNT(*) AS n,
           CAST(MIN(DATEDIFF('day', TIMESTAMP '2020-01-01', o_orderdate)) AS INT)
               AS min_days_since_2020
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
    doc="Date/time functions: year/month/date_trunc/datediff (Q12).",
)
def q18_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.datediff(F.col("o_orderdate"), F.lit("2020-01-01").cast("timestamp")).alias(
                "days_since"
            ),
        )
        .groupBy("order_year", "order_month", "month_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("days_since").alias("min_days_since_2020"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "q19_conditional",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS balance_bucket,
           COUNT(*) AS n,
           ROUND(SUM(ABS(c_acctbal)), 2) AS sum_abs_bal,
           -- cents (q212 recipe) + scale-first (q208 recipe): the
           -- money average is a rational that can tie exactly on a
           -- 5e-5 boundary; exact integer-cent sums make the AVG
           -- double bit-identical across engines, and the scale-0
           -- round of that double agrees on both
           ROUND(100 * AVG(CAST(ROUND(100 * COALESCE(NULLIF(c_acctbal,
                 0), 0)) AS BIGINT))) / 10000.0 AS avg_bal
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Conditional + math: CASE WHEN / COALESCE / NULLIF / ABS (Q12).",
)
def q19_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_bucket")
    )
    return (
        c.select(bucket, "c_acctbal")
        .groupBy("balance_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.abs(F.col("c_acctbal"))), 2).alias("sum_abs_bal"),
            # cents + scale-first: see the oracle comment
            (
                F.round(
                    100
                    * F.avg(
                        cents(
                            F.coalesce(
                                F.nullif(F.col("c_acctbal"), F.lit(0.0)),
                                F.lit(0.0),
                            )
                        )
                    )
                )
                / 10000.0
            ).alias("avg_bal"),
        )
        .orderBy("balance_bucket")
    )


@register(
    "q20_json_funcs",
    """
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n,
           ROUND(SUM(value), 3) AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    doc="JSON extraction on string column events.props (Q13).",
)
def q20_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .orderBy("k_bucket")
    )


@register(
    "q21_explode_tokens",
    """
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    doc="Array explode: tokenize documents and count tokens (Q13/L4).",
)
def q21_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@register(
    "q22_asof_join",
    """
    SELECT t.event_id,
           t.user_id,
           q.value AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
    doc="As-of join: latest click value at-or-before each purchase; "
    "union+carry-forward plan, one shuffle on user_id (Q5).",
)
def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = ops.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
    )
    return joined.select(
        "event_id", "user_id", F.col("value_right").alias("last_click_value")
    )


@register(
    "q23_range_join",
    """
    SELECT e1.event_id, COUNT(*) AS n_following
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'signup'
    GROUP BY e1.event_id
    ORDER BY e1.event_id
    """,
    doc="Range (band) join with equi-key: events within 1h after each signup; "
    "hash join on user_id + residual band predicate (Q5).",
)
def q23_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("event_id"),
        F.col("user_id").alias("su_user_id"),
        F.col("ts").alias("su_ts"),
    )
    others = e.select(F.col("user_id").alias("e_user_id"), F.col("ts").alias("e_ts"))
    joined = signups.join(
        others,
        (F.col("su_user_id") == F.col("e_user_id"))
        & (F.col("e_ts") > F.col("su_ts"))
        & (F.col("e_ts") <= F.col("su_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return (
        joined.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_following"))
        .orderBy("event_id")
    )


@register(
    "q24_merge_upsert",
    """
    WITH t AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
               WHERE o_orderkey % 3 != 0),
         s AS (SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS o_totalprice,
                      'U' AS o_orderstatus
               FROM orders WHERE o_orderkey % 2 = 0)
    SELECT COALESCE(s.o_orderkey, t.o_orderkey)       AS o_orderkey,
           ROUND(COALESCE(s.o_totalprice, t.o_totalprice), 2) AS o_totalprice,
           COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus
    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    """,
    doc="MERGE upsert rewrite (whenMatchedUpdateAll + whenNotMatchedInsertAll) "
    "without Delta; parity with reference framework.py:211-231 (S5).",
)
def q24_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderstatus"
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    merged = ops.merge_upsert(target, source, keys=["o_orderkey"])
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderstatus"
    )


@register(
    "q25_argmax_latest",
    """
    SELECT user_id,
           arg_max(event_id, ts) AS latest_event_id,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM events
    GROUP BY user_id
    """,
    doc="Argmax-by-timestamp selection — the reference's latest-file discovery "
    "semantics (aws_utils test.py:94-121, S12) as a relational top-1.",
)
def q25_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("latest_event_id"),
        F.date_format(F.max("ts"), TS_FMT).alias("latest_ts"),
    )


@register(
    "q26_window_tumbling",
    """
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 3) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Event-time tumbling window aggregation (batch shape of T4).",
)
def q26_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )
