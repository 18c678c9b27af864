"""Round-3 gates, batch 22: SQL scripting (q226 — Spark 4's
BEGIN/DECLARE/WHILE/IF procedural blocks, the migration path for
stored-procedure ETL) and EXECUTE IMMEDIATE dynamic SQL (q227 —
statement text built at runtime with safe ?-parameter binding).
Complements q191 (parameterized SQL + IDENTIFIER) and q189 (SQL UDFs)
on the declarative-control-surface front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (kept for parity with sibling batches)

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents_sql
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q226
@register(
    "q226_sql_scripting",
    """
    SELECT CAST((SELECT COUNT(*) FROM orders
                 WHERE YEAR(o_orderdate) BETWEEN 1996 AND 1998)
                AS BIGINT) AS n_orders,
           CAST(15 AS INT) AS loop_check,
           'multi-year' AS label
    """,
    doc="SQL scripting (Spark 4 BEGIN...END blocks: DECLARE variables, "
    "WHILE loops, IF/ELSE branches — procedural ETL expressed in pure "
    "SQL, the stored-procedure migration path): a script iterates "
    "over three order years, accumulating each year's order count "
    "into a variable via scalar subqueries, runs an independent "
    "arithmetic WHILE loop as a control-flow check, and branches on "
    "IF to label the result. Each loop iteration's aggregate is still "
    "a full Catalyst-planned query (pushdown and codegen intact) — "
    "scripting adds sequencing, not a slower engine. The scripting "
    "conf is enabled for the statement and restored after. Oracle: "
    "the closed-form equivalent of the accumulation.",
)
def q226_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        out = spark.sql(
            """
            BEGIN
              DECLARE n_orders BIGINT DEFAULT 0;
              DECLARE yr INT DEFAULT 1996;
              DECLARE loop_check INT DEFAULT 0;
              DECLARE i INT DEFAULT 1;
              DECLARE label STRING DEFAULT '';
              WHILE yr <= 1998 DO
                SET n_orders = n_orders + (
                    SELECT COUNT(*) FROM orders WHERE YEAR(o_orderdate) = yr);
                SET yr = yr + 1;
              END WHILE;
              WHILE i <= 5 DO
                SET loop_check = loop_check + i;
                SET i = i + 1;
              END WHILE;
              IF yr > 1998 THEN
                SET label = 'multi-year';
              ELSE
                SET label = 'single-year';
              END IF;
              SELECT n_orders, loop_check, label;
            END
            """
        )
        # materialize before the conf flips back
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------- q227
@register(
    "q227_execute_immediate",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS total
    FROM orders
    WHERE o_totalprice > 300000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="EXECUTE IMMEDIATE dynamic SQL: the statement text lives in a "
    "SQL variable (built at runtime — the metadata-driven-ETL shape "
    "where query templates come from config), and the threshold binds "
    "through a ? placeholder with USING — parameterized, so the "
    "dynamic text is injection-safe and the bound literal still "
    "reaches the optimizer for pushdown. Complements q191, which "
    "covers named-parameter + IDENTIFIER binding on spark.sql().",
)
def q227_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE stmt STRING")
    spark.sql(
        f"""SET VAR stmt =
           'SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(CAST(SUM({cents_sql("o_totalprice")})
                      AS DOUBLE) / 100, 2) AS total
            FROM orders WHERE o_totalprice > ?
            GROUP BY o_orderpriority ORDER BY o_orderpriority'"""
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING 300000")
