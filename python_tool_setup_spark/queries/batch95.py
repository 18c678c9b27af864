"""Round-5 gates, batch 95: customer spend-decile transition matrix
(q394 — where did last year's decile-1 customers end up this year:
the revenue-mobility matrix behind every 'are we upgrading or
churning our best customers' review; reuses q176's exact NTILE
closed form over the block-offset rank on BOTH years) and revenue
concentration (q395 — the top-1%/10% customer share of revenue:
the Pareto readout that pairs with q303's Gini).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_Y1, _Y2 = 1995, 1996
_N_TILES = 10


def _ntile_expr(rk: str, n: str, b: int) -> str:
    return (
        f"CASE WHEN {rk} <= ({n} % {b}) * (div({n}, {b}) + 1) "
        f"THEN div({rk} - 1, div({n}, {b}) + 1) + 1 "
        f"ELSE ({n} % {b}) + div({rk} - ({n} % {b}) * (div({n}, {b}) + 1)"
        f" - 1, div({n}, {b})) + 1 END"
    )


# ---------------------------------------------------------------- q394
@register(
    "q394_decile_transition",
    f"""
    WITH spend AS (
        SELECT o_custkey AS c, CAST(strftime(o_orderdate, '%Y') AS INTEGER)
                   AS y,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        WHERE strftime(o_orderdate, '%Y') IN ('{_Y1}', '{_Y2}')
        GROUP BY 1, 2
    ),
    d1 AS (
        SELECT c, NTILE({_N_TILES}) OVER (ORDER BY cents DESC, c) AS dec1
        FROM spend WHERE y = {_Y1}
    ),
    d2 AS (
        SELECT c, NTILE({_N_TILES}) OVER (ORDER BY cents DESC, c) AS dec2
        FROM spend WHERE y = {_Y2}
    )
    SELECT CAST(dec1 AS BIGINT) AS decile_y1,
           CAST(dec2 AS BIGINT) AS decile_y2,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM d1 JOIN d2 USING (c)
    GROUP BY dec1, dec2 ORDER BY decile_y1, decile_y2
    """,
    doc="Customer spend-decile transition matrix between two years "
    "(decile 1 = top spenders; the cell (1, 10) is 'our best "
    "customers collapsed' and (10, 1) is 'sleepers woke up' — the "
    "revenue-mobility diagnostic behind account-management "
    "reviews): per-year spend in exact integer cents, each year's "
    "deciles from the block-offset rank + q176's exact NTILE "
    "closed form (no global window on either year), the matrix "
    "from one join on customer. The DuckDB oracle uses plain "
    "NTILE windows — agreeing re-proves the closed form on two "
    "independent populations. Scale: two year-partitioned rank "
    "domains + one key join.",
)
def q394_decile_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.withColumn("y", F.year("o_orderdate"))
        .filter(F.col("y").isin(_Y1, _Y2))
        .groupBy(F.col("o_custkey").alias("c"), "y")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    # Pin the two-year spend table once (O(customers) rows — the
    # algorithm's working set): each decile arm references it twice
    # (rank + total), so the unpinned plan re-ran the orders scan +
    # groupBy four times (20 Exchange nodes in the r10-before plan).
    spend = pin(spend)

    def deciles(year: int, out: str) -> DataFrame:
        yr = spend.filter(F.col("y") == year)
        ranked = prefix_rank(
            yr, [("cents", "desc"), ("c", "asc")], alias="rk"
        )
        n_tot = yr.agg(F.count(F.lit(1)).alias("n"))
        return (
            ranked.crossJoin(F.broadcast(n_tot))
            .withColumn(out, F.expr(_ntile_expr("rk", "n", _N_TILES)))
            .select("c", out)
        )

    d1 = deciles(_Y1, "decile_y1")
    d2 = deciles(_Y2, "decile_y2")
    return (
        d1.join(d2, "c")
        .groupBy("decile_y1", "decile_y2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.col("decile_y1").cast("long").alias("decile_y1"),
            F.col("decile_y2").cast("long").alias("decile_y2"),
            F.col("n_customers").cast("long").alias("n_customers"),
        )
        .orderBy("decile_y1", "decile_y2")
    )


# ---------------------------------------------------------------- q395
@register(
    "q395_revenue_concentration",
    """
    WITH spend AS (
        SELECT o_custkey AS c,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC, c) AS rk
        FROM spend
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(cents) AS total FROM spend)
    SELECT CAST(pct AS BIGINT) AS top_pct,
           CAST((pct * n) // 100 AS BIGINT) AS n_top,
           CAST((SELECT SUM(cents) FROM ranked
                 WHERE rk <= (pct * n) // 100) AS BIGINT) AS top_cents,
           CAST(total AS BIGINT) AS total_cents,
           CAST(ROUND(CAST((SELECT SUM(cents) FROM ranked
                   WHERE rk <= (pct * n) // 100) AS DOUBLE)
               / total * 1000000.0) AS BIGINT) AS share_micro
    FROM (VALUES (1), (10), (20)) AS t(pct), tot
    ORDER BY top_pct
    """,
    doc="Revenue concentration: the share of total revenue carried "
    "by the top 1% / 10% / 20% of customers by spend (the Pareto "
    "readout — '20% of customers are 80% of revenue' made exact; "
    "the quantile-cut companion to q303's Gini over the same "
    "inequality): customer spend in exact integer cents, ranks "
    "from the block-offset rank, each cut's mass one conditional "
    "sum, one division per row. Scale: one customer groupBy + "
    "rank-domain metadata.",
)
def q395_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # O(customers) spend table read by the rank machinery AND the
    # count/total aggregate: pin it so orders is scanned once.
    spend = pin(
        o.groupBy(F.col("o_custkey").alias("c")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    ranked = prefix_rank(
        spend,
        [("cents", "desc"), ("c", "asc")],
        alias="rk",
    )
    tot = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    pcts = [1, 10, 20]
    cuts_row = ranked.crossJoin(F.broadcast(tot)).agg(
        *[
            F.sum(
                F.when(
                    F.col("rk") <= F.expr(f"div({p} * n, 100)"),
                    F.col("cents"),
                ).otherwise(0)
            ).alias(f"t{p}")
            for p in pcts
        ],
        F.max("n").alias("n"),
        F.max("total").alias("total"),
    )
    curve = cuts_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("top_pct"),
                        F.col(f"t{p}").cast("long").alias("top_cents"),
                    )
                    for p in pcts
                ]
            )
        ).alias("s"),
        "n",
        "total",
    ).select("s.top_pct", "s.top_cents", "n", "total")
    return curve.select(
        "top_pct",
        F.expr("div(top_pct * n, 100)").cast("long").alias("n_top"),
        "top_cents",
        F.col("total").cast("long").alias("total_cents"),
        F.round(
            F.col("top_cents").cast("double")
            / F.col("total").cast("double")
            * 1000000.0
        )
        .cast("long")
        .alias("share_micro"),
    ).orderBy("top_pct")
