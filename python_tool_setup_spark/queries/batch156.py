"""Round-5 gates, batch 156: join-order benefit estimator (q523 —
what a cost-based optimizer actually weighs: for the 3-table chain
lineitem-orders-customer, the EXACT intermediate cardinality of
each join order, computed from per-key count histograms (sum of
count products — the q483 trick) without materializing any join;
the recommended order minimizes the intermediate, and the benefit
ratio is the measured win a join reorder would deliver) and nested
percentiles (q524 — the SRE staple "p95 of per-user p95s": a plain
global p95 lets heavy users dominate, so aggregate latency per
user FIRST, then take percentiles over users; both levels run on
value-domain histograms — the q47 shape — so no per-group row
buffering at either level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles,
    grouped_exact_percentiles_frac,
)
from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


@register(
    "q523_join_order_benefit",
    """
    WITH lo AS (
        -- |lineitem JOIN orders| = rows of lineitem (FK), exactly
        SELECT SUM(lc.c * oc.c) AS rows_out
        FROM (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
              GROUP BY 1) lc
        JOIN (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders
              GROUP BY 1) oc ON lc.k = oc.k
    ),
    oc_ AS (
        SELECT SUM(oc.c * cc.c) AS rows_out
        FROM (SELECT o_custkey AS k, COUNT(*) AS c FROM orders
              GROUP BY 1) oc
        JOIN (SELECT c_custkey AS k, COUNT(*) AS c FROM customer
              GROUP BY 1) cc ON oc.k = cc.k
    ),
    final AS (
        -- both orders end at the same final cardinality
        SELECT SUM(lc.c * occ.c) AS rows_out
        FROM (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
              GROUP BY 1) lc
        JOIN (SELECT o.o_orderkey AS k, COUNT(*) AS c
              FROM orders o JOIN customer c2
                ON c2.c_custkey = o.o_custkey
              GROUP BY 1) occ ON lc.k = occ.k
    ),
    plans AS (
        SELECT 'a_lineitem_orders_first' AS plan_order,
               (SELECT rows_out FROM lo) AS intermediate_rows,
               (SELECT rows_out FROM final) AS final_rows
        UNION ALL
        SELECT 'b_orders_customer_first',
               (SELECT rows_out FROM oc_),
               (SELECT rows_out FROM final)
    ),
    best AS (SELECT MIN(intermediate_rows) AS mn FROM plans)
    SELECT plan_order,
           CAST(intermediate_rows AS BIGINT) AS intermediate_rows,
           CAST(final_rows AS BIGINT) AS final_rows,
           intermediate_rows = b.mn AS recommended,
           CAST(ROUND(intermediate_rows * 1000000.0 / b.mn)
               AS BIGINT) AS cost_ratio_micro
    FROM plans CROSS JOIN best b
    ORDER BY plan_order
    """,
    doc="Join-order benefit estimator (what a CBO actually weighs: "
    "the intermediate cardinality of each join order for the "
    "lineitem-orders-customer chain, EXACT from per-key count "
    "histograms — sum of count products, the q483 device — so no "
    "candidate join is ever materialized; the recommended order "
    "minimizes the intermediate and cost_ratio is the measured "
    "win a reorder delivers): per-key histograms are map-side-"
    "combined groupBys, the product-sums are histogram joins, "
    "and the final cardinality (identical for both orders) is "
    "computed once. Scale: three histogram aggregates replace "
    "two candidate joins — the estimator costs less than either "
    "plan it prices.",
)
def q523_join_order_benefit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def hist(df, key):
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )

    def prod(a, b):
        return a.join(
            b.select(F.col("k"), F.col("c").alias("c2")), "k"
        ).agg(
            F.sum(F.col("c") * F.col("c2")).alias("rows_out")
        )

    lo = prod(hist(li, "l_orderkey"), hist(o, "o_orderkey"))
    oc = prod(hist(o, "o_custkey"), hist(c, "c_custkey"))
    occ = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Pin the 1-row final-cardinality estimate: it feeds both plan
    # rows, and without the pin each re-instantiates the lineitem
    # histogram + customer-join pipeline (20 parquet scans in the
    # r10-before plan).
    final = pin(prod(hist(li, "l_orderkey"), occ))
    pa = lo.crossJoin(F.broadcast(final.select(
        F.col("rows_out").alias("final_rows")
    ))).select(
        F.lit("a_lineitem_orders_first").alias("plan_order"),
        F.col("rows_out").alias("intermediate_rows"),
        "final_rows",
    )
    pb = oc.crossJoin(F.broadcast(final.select(
        F.col("rows_out").alias("final_rows")
    ))).select(
        F.lit("b_orders_customer_first").alias("plan_order"),
        F.col("rows_out").alias("intermediate_rows"),
        "final_rows",
    )
    # Pin the 2-row plan table before the min/ratio fan-out: best and
    # the final projection both re-reference it.
    plans = pin(pa.unionByName(pb))
    best = plans.agg(F.min("intermediate_rows").alias("mn"))
    return (
        plans.crossJoin(F.broadcast(best))
        .select(
            "plan_order",
            F.col("intermediate_rows").cast("long").alias(
                "intermediate_rows"
            ),
            F.col("final_rows").cast("long").alias("final_rows"),
            (F.col("intermediate_rows") == F.col("mn")).alias(
                "recommended"
            ),
            F.round(
                F.col("intermediate_rows") * 1000000.0 / F.col("mn")
            )
            .cast("long")
            .alias("cost_ratio_micro"),
        )
        .orderBy("plan_order")
    )


# ---------------------------------------------------------------- q524
@register(
    "q524_nested_percentiles",
    """
    -- exact-rational quantile interpolation over integer cents
    -- (multi-seed catch #5, seed 5050): QUANTILE_CONT's float
    -- interpolation lands EXACTLY on half-milli ties (p = 19/20 over
    -- cents hits them whenever the bracketing gap is odd cents) and
    -- the engines' interpolation doubles differ by an ulp there.
    -- b*quantile = lo*(b-r) + hi*r with (n-1)*a = k*b + r is an exact
    -- integer on both engines; half-up = (num + b/2) // b.
    WITH ec AS (
        SELECT user_id, CAST(ROUND(100 * value) AS BIGINT) AS c
        FROM events
    ),
    ord1 AS (
        SELECT user_id, c,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY c) - 1
                   AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM ec
    ),
    pu AS (
        SELECT user_id, MAX(n) AS n,
               MAX(CASE WHEN rk = ((n - 1) * 19) // 20 THEN c END) AS lo,
               MAX(CASE WHEN rk = LEAST(n - 1, ((n - 1) * 19) // 20 + 1)
                   THEN c END) AS hi
        FROM ord1 GROUP BY user_id
    ),
    per_user AS (
        -- 20*p95_cents = lo*(20-r) + hi*r; p95_milli = that/2, half-up
        SELECT user_id,
               (lo * (20 - ((n - 1) * 19) % 20)
                + hi * (((n - 1) * 19) % 20) + 1) // 2 AS p95_milli
        FROM pu
    ),
    ord2 AS (
        SELECT p95_milli AS m,
               ROW_NUMBER() OVER (ORDER BY p95_milli) - 1 AS rk,
               COUNT(*) OVER () AS n
        FROM per_user
    ),
    l2 AS (
        SELECT MAX(n) AS nu,
               MAX(CASE WHEN rk = (n - 1) // 2 THEN m END) AS lo50,
               MAX(CASE WHEN rk = LEAST(n - 1, (n - 1) // 2 + 1)
                   THEN m END) AS hi50,
               MAX(CASE WHEN rk = ((n - 1) * 19) // 20 THEN m END) AS lo95,
               MAX(CASE WHEN rk = LEAST(n - 1, ((n - 1) * 19) // 20 + 1)
                   THEN m END) AS hi95
        FROM ord2
    ),
    over_users AS (
        SELECT CAST(nu AS BIGINT) AS n_users,
               CAST((lo50 * (2 - (nu - 1) % 2) + hi50 * ((nu - 1) % 2)
                     + 1) // 2 AS BIGINT) AS p50_of_p95_milli,
               CAST((lo95 * (20 - ((nu - 1) * 19) % 20)
                     + hi95 * (((nu - 1) * 19) % 20) + 10) // 20
                   AS BIGINT) AS p95_of_p95_milli
        FROM l2
    ),
    ord3 AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c) - 1 AS rk,
               COUNT(*) OVER () AS n
        FROM ec
    ),
    g1 AS (
        SELECT MAX(n) AS n,
               MAX(CASE WHEN rk = ((n - 1) * 19) // 20 THEN c END) AS lo,
               MAX(CASE WHEN rk = LEAST(n - 1, ((n - 1) * 19) // 20 + 1)
                   THEN c END) AS hi
        FROM ord3
    ),
    global_p AS (
        SELECT CAST((lo * (20 - ((n - 1) * 19) % 20)
                     + hi * (((n - 1) * 19) % 20) + 1) // 2 AS BIGINT)
            AS global_p95_milli
        FROM g1
    )
    SELECT o.n_users, o.p50_of_p95_milli, o.p95_of_p95_milli,
           g.global_p95_milli,
           o.p95_of_p95_milli >= g.global_p95_milli
               AS heavy_users_hide_tail
    FROM over_users o CROSS JOIN global_p g
    """,
    doc="Nested percentiles (the SRE staple 'p95 of per-user p95s': "
    "a global p95 lets heavy users dominate the sample, so "
    "aggregate per user FIRST, then take percentiles over users; "
    "the gap between global p95 and p95-of-p95s is the measured "
    "heavy-user distortion): level 1 computes each user's exact "
    "p95 from their value histogram (quantile_cont semantics via "
    "the q47 histogram operator — per-task state is one user's "
    "distinct values), milli-quantized so level 2's input is "
    "integer; level 2 runs the same histogram machinery over the "
    "user domain. Scale: two histogram aggregations, no per-"
    "group row buffering at either level.",
)
def q524_nested_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # exact-rational interpolation over integer cents: see the oracle
    # comment. half-up of num/b = floor((num + b//2) / b); the doubles
    # below are exact (num is a small integer).
    cents_df = e.select("user_id", cents(F.col("value")).alias("c"))
    per_user = grouped_exact_percentiles_frac(
        cents_df, ["user_id"], "c", {"p95": (19, 20)}
    ).select(
        "user_id",
        # 20*p95_cents -> p95_milli = num/2, half-up
        F.floor((F.col("p95_num") + 1) / 2).cast("long").alias("p95_milli"),
    )
    over = grouped_exact_percentiles_frac(
        per_user.withColumn("one", F.lit(1)),
        ["one"],
        "p95_milli",
        {"p50": (1, 2), "p95": (19, 20)},
    ).select(
        F.col("n").cast("long").alias("n_users"),
        F.floor((F.col("p50_num") + 1) / 2)
        .cast("long")
        .alias("p50_of_p95_milli"),
        F.floor((F.col("p95_num") + 10) / 20)
        .cast("long")
        .alias("p95_of_p95_milli"),
    )
    gp = grouped_exact_percentiles_frac(
        cents_df.select(F.lit(1).alias("one"), "c"),
        ["one"],
        "c",
        {"p95": (19, 20)},
    ).select(
        F.floor((F.col("p95_num") + 1) / 2)
        .cast("long")
        .alias("global_p95_milli")
    )
    return over.crossJoin(F.broadcast(gp)).select(
        "n_users",
        "p50_of_p95_milli",
        "p95_of_p95_milli",
        "global_p95_milli",
        (
            F.col("p95_of_p95_milli") >= F.col("global_p95_milli")
        ).alias("heavy_users_hide_tail"),
    )
