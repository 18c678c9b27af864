"""Round-3 gates, batch 12: declarative SQL UDFs (q189), DEFAULT
column values in DDL + partial-column INSERT (q190), and parameterized
SQL with the IDENTIFIER clause (q191).

Oracle conventions as everywhere: identical aliases both sides; the
oracle inlines the SQL-UDF bodies / default expressions relationally.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents_sql
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q189
@register(
    "q189_sql_udf",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- per-row integer cents (q212 recipe): the grossed price
           -- has 4 decimals, so the raw double SUM can flip on a
           -- .005 knife edge between engines; row-local doubles are
           -- bit-identical and the integer sum is order-free
           ROUND(CAST(SUM(CAST(ROUND(100 * (o_totalprice * (1 + 0.07)))
                 AS BIGINT)) AS DOUBLE) / 100, 2) AS gross_total,
           -- scale-first round (q208 recipe): the share is an exact
           -- count ratio that can tie on a 5e-5 decimal boundary
           ROUND(10000 * AVG(CASE WHEN o_totalprice > 200000 THEN 1.0
                          ELSE 0.0 END)) / 10000.0 AS big_share
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Declarative SQL UDFs (Spark 4, SPARK-46246: CREATE FUNCTION "
    "... RETURNS ... RETURN <expr>): business logic — a tax-grossing "
    "function and a big-order predicate — defined ONCE in SQL and "
    "reused across queries, instead of copy-pasted expressions or "
    "slow Python UDFs. The function body is inlined by the analyzer, "
    "so the plan is identical to writing the expression by hand: "
    "whole-stage codegen, pushdown, the lot. The oracle inlines the "
    "same bodies relationally.",
)
def q189_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gross(amount DOUBLE) "
        "RETURNS DOUBLE RETURN amount * (1 + 0.07)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_big(amount DOUBLE) "
        "RETURNS DOUBLE RETURN CASE WHEN amount > 200000 THEN 1.0 "
        "ELSE 0.0 END"
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM({cents_sql("gross(o_totalprice)")})
                     AS DOUBLE) / 100, 2) AS gross_total,
               ROUND(10000 * AVG(is_big(o_totalprice))) / 10000.0
                   AS big_share
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------- q190
@register(
    "q190_default_columns",
    """
    SELECT n_name,
           'unverified' AS quality_tier,
           CAST(0 AS BIGINT) AS review_count
    FROM nation
    """,
    doc="DEFAULT column values (SPARK-38334): the table declares "
    "defaults in DDL, and a partial-column INSERT materializes them — "
    "the schema-evolution pattern where new columns get sane values "
    "without touching every writer. The insert names only n_name; "
    "quality_tier and review_count are filled by the engine from "
    "their declared DEFAULT expressions. Round-trips through a real "
    "warehouse table; the oracle computes the expected filled rows.",
)
def q190_default_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    tbl = f"default_cols_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
            n_name STRING,
            quality_tier STRING DEFAULT 'unverified',
            review_count BIGINT DEFAULT 0
        ) USING PARQUET
        """
    )
    try:
        n.createOrReplaceTempView("nation_src")
        spark.sql(
            f"INSERT INTO {tbl} (n_name) SELECT n_name FROM nation_src"
        )
        return pin(spark.table(tbl).select("n_name", "quality_tier", "review_count"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------- q191
@register(
    "q191_parameterized_sql",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer
    WHERE c_acctbal > 1000
    GROUP BY c_mktsegment
    """,
    doc="Parameterized SQL + IDENTIFIER clause (SPARK-44680 family): "
    "the query binds a named VALUE parameter (:min_bal) and an "
    "IDENTIFIER-bound TABLE name — the injection-safe templating "
    "surface for config-driven pipelines (the reference's config "
    "object interpolated table names into SQL strings; this is the "
    "same capability without string splicing). Parameters bind at "
    "parse time, so pushdown sees a plain literal predicate.",
)
def q191_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_param_src"
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(c_acctbal), 2) AS total_balance
        FROM IDENTIFIER(:tbl)
        WHERE c_acctbal > :min_bal
        GROUP BY c_mktsegment
        """,
        args={"tbl": "customer_param_src", "min_bal": 1000},
    )
