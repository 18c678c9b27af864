"""Round-5 gates, batch 168: Cronbach's alpha (q547 — multi-item
reliability generalizing q545's split-half: treat each customer's
first four orders (by date, key-tiebroken) as four items measuring
the customer's spending trait; alpha = k/(k-1) * (1 - sum(item
variances)/variance(total)) — the internal-consistency coefficient
every composite score reports; i.i.d. order values imply alpha ~ 0,
the null calibration) and Bland-Altman agreement (q548 — the
method-comparison standard: for two measurements of the same thing
(odd- vs even-order half-means per customer), the bias, the 95%
limits of agreement, and the share of subjects outside them — the
analysis that replaces the correlation misuse Bland & Altman wrote
the paper about).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table

_ALPHA_K = 4


@register(
    "q547_cronbach_alpha",
    f"""
    WITH ranked AS (
        SELECT o_custkey,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS r
        FROM orders
    ),
    items AS (
        SELECT o_custkey,
               MAX(CASE WHEN r = 1 THEN cents END) AS i1,
               MAX(CASE WHEN r = 2 THEN cents END) AS i2,
               MAX(CASE WHEN r = 3 THEN cents END) AS i3,
               MAX(CASE WHEN r = 4 THEN cents END) AS i4
        FROM ranked WHERE r <= {_ALPHA_K}
        GROUP BY o_custkey
        HAVING COUNT(*) = {_ALPHA_K}
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(i1) AS s1, SUM(CAST(i1 AS HUGEINT) * i1) AS q1,
               SUM(i2) AS s2, SUM(CAST(i2 AS HUGEINT) * i2) AS q2,
               SUM(i3) AS s3, SUM(CAST(i3 AS HUGEINT) * i3) AS q3,
               SUM(i4) AS s4, SUM(CAST(i4 AS HUGEINT) * i4) AS q4,
               SUM(i1 + i2 + i3 + i4) AS st,
               SUM(CAST(i1 + i2 + i3 + i4 AS HUGEINT)
                   * (i1 + i2 + i3 + i4)) AS qt
        FROM items
    ),
    v AS (
        SELECT n,
               ({dd_duck('q1')} - CAST(s1 AS DOUBLE) * s1 / n)
                   / (n - 1)
               + ({dd_duck('q2')} - CAST(s2 AS DOUBLE) * s2 / n)
                   / (n - 1)
               + ({dd_duck('q3')} - CAST(s3 AS DOUBLE) * s3 / n)
                   / (n - 1)
               + ({dd_duck('q4')} - CAST(s4 AS DOUBLE) * s4 / n)
                   / (n - 1) AS sum_item_var,
               ({dd_duck('qt')} - CAST(st AS DOUBLE) * st / n)
                   / (n - 1) AS total_var
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_subjects,
           CAST(ROUND(sum_item_var) AS BIGINT) AS sum_item_var,
           CAST(ROUND(total_var) AS BIGINT) AS total_var,
           CAST(ROUND({_ALPHA_K}.0 / ({_ALPHA_K} - 1)
               * (1 - sum_item_var / total_var) * 1000000)
               AS BIGINT) AS alpha_micro,
           ROUND({_ALPHA_K}.0 / ({_ALPHA_K} - 1)
               * (1 - sum_item_var / total_var) * 1000000)
               >= 700000 AS internally_consistent
    FROM v
    """,
    doc="Cronbach's alpha (multi-item internal consistency "
    "generalizing q545's split-half: a customer's first four "
    "orders — date-ordered, key-tiebroken — are four items "
    "measuring the spending trait; alpha = k/(k-1)(1 - sum(item "
    "var)/var(total)); the fixture's i.i.d. order values imply "
    "alpha ~ 0, the null calibration): items pivot from a window "
    "PARTITIONED by customer (bounded partitions), customers "
    "with fewer than k orders are excluded as the method "
    "requires, all moments in exact HUGEINT/DECIMAL(38) integers "
    "with the fixed addition order (i1+i2+i3+i4) shared by both "
    "engines. Scale: one partitioned window + one aggregate.",
)
def q547_cronbach_alpha(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ranked = o.select(
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("r"),
    ).filter(F.col("r") <= _ALPHA_K)
    items = (
        ranked.groupBy("o_custkey")
        .agg(
            *[
                F.max(
                    F.when(F.col("r") == i, F.col("cents"))
                ).alias(f"i{i}")
                for i in range(1, _ALPHA_K + 1)
            ],
            F.count(F.lit(1)).alias("k"),
        )
        .filter(F.col("k") == _ALPHA_K)
    )
    dec = lambda c: c.cast("decimal(38,0)")
    tot = (
        F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(1, _ALPHA_K + 1):
        aggs.append(F.sum(f"i{i}").alias(f"s{i}"))
        aggs.append(
            F.sum(dec(F.col(f"i{i}")) * F.col(f"i{i}")).alias(
                f"q{i}"
            )
        )
    aggs.append(F.sum(tot).alias("st"))
    aggs.append(F.sum(dec(tot) * tot).alias("qt"))
    s = items.agg(*aggs)
    item_var = None
    for i in range(1, _ALPHA_K + 1):
        v = (
            F.col(f"q{i}").cast("double")
            - F.col(f"s{i}").cast("double")
            * F.col(f"s{i}")
            / F.col("n")
        ) / (F.col("n") - 1)
        item_var = v if item_var is None else item_var + v
    total_var = (
        F.col("qt").cast("double")
        - F.col("st").cast("double") * F.col("st") / F.col("n")
    ) / (F.col("n") - 1)
    alpha = F.round(
        _ALPHA_K / (_ALPHA_K - 1.0)
        * (1 - item_var / total_var)
        * 1000000
    ).cast("long")
    return s.select(
        F.col("n").cast("long").alias("n_subjects"),
        F.round(item_var).cast("long").alias("sum_item_var"),
        F.round(total_var).cast("long").alias("total_var"),
        alpha.alias("alpha_micro"),
        (alpha >= 700000).alias("internally_consistent"),
    )


# ---------------------------------------------------------------- q548
@register(
    "q548_bland_altman",
    f"""
    WITH halves AS (
        SELECT o_custkey,
               CAST(ROUND(AVG(CASE WHEN o_orderkey % 2 = 1
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   END)) AS BIGINT) AS a,
               CAST(ROUND(AVG(CASE WHEN o_orderkey % 2 = 0
                   THEN CAST(ROUND(100 * o_totalprice) AS BIGINT)
                   END)) AS BIGINT) AS b
        FROM orders GROUP BY o_custkey
    ),
    d AS (
        SELECT a - b AS diff FROM halves
        WHERE a IS NOT NULL AND b IS NOT NULL
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(diff) AS sd,
               SUM(CAST(diff AS HUGEINT) * diff) AS qd
        FROM d
    ),
    lim AS (
        SELECT n,
               CAST(ROUND(CAST(sd AS DOUBLE) / n) AS BIGINT)
                   AS bias_cents,
               CAST(ROUND(1.96 * SQRT(({dd_duck('qd')}
                   - CAST(sd AS DOUBLE) * sd / n) / (n - 1)))
                   AS BIGINT) AS loa_half_width
        FROM s
    )
    SELECT l.n AS n_subjects,
           l.bias_cents,
           l.loa_half_width,
           CAST((SELECT COUNT(*) FROM d CROSS JOIN lim l2
                 WHERE ABS(d.diff - l2.bias_cents)
                     > l2.loa_half_width) AS BIGINT)
               AS n_outside_loa,
           CAST(ROUND((SELECT COUNT(*) FROM d CROSS JOIN lim l3
                 WHERE ABS(d.diff - l3.bias_cents)
                     > l3.loa_half_width) * 1000000.0 / l.n)
               AS BIGINT) AS outside_ppm,
           ROUND((SELECT COUNT(*) FROM d CROSS JOIN lim l4
                 WHERE ABS(d.diff - l4.bias_cents)
                     > l4.loa_half_width) * 1000000.0 / l.n)
               < 80000 AS methods_agree
    FROM lim l
    """,
    doc="Bland-Altman agreement (the method-comparison standard: "
    "for two measurements of the same quantity — here the odd- "
    "vs even-order half-means per customer — report the bias, "
    "the 95% limits of agreement bias +/- 1.96 sd(diff), and the "
    "share of subjects outside them; under normality ~5% fall "
    "outside, so the verdict gate sits at 8%): per-subject "
    "differences from one conditional aggregate, moments in "
    "exact integers, limits quantized once and broadcast back "
    "for the exact outside-count. Scale: one groupBy + one "
    "re-scan of the subject-domain differences.",
)
def q548_bland_altman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_col = cents(F.col("o_totalprice"))
    halves = o.groupBy("o_custkey").agg(
        F.round(
            F.avg(F.when(F.col("o_orderkey") % 2 == 1, cents_col))
        )
        .cast("long")
        .alias("a"),
        F.round(
            F.avg(F.when(F.col("o_orderkey") % 2 == 0, cents_col))
        )
        .cast("long")
        .alias("b"),
    )
    d = halves.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select((F.col("a") - F.col("b")).alias("diff"))
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("diff").alias("sd"),
        F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff")).alias(
            "qd"
        ),
    )
    lim = s.select(
        "n",
        F.round(F.col("sd").cast("double") / F.col("n"))
        .cast("long")
        .alias("bias_cents"),
        F.round(
            1.96
            * F.sqrt(
                (
                    F.col("qd").cast("double")
                    - F.col("sd").cast("double")
                    * F.col("sd")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            )
        )
        .cast("long")
        .alias("loa_half_width"),
    )
    outside = (
        d.crossJoin(F.broadcast(lim))
        .filter(
            F.abs(F.col("diff") - F.col("bias_cents"))
            > F.col("loa_half_width")
        )
        .agg(F.count(F.lit(1)).alias("n_outside"))
    )
    out_ppm = F.round(
        F.col("n_outside") * 1000000.0 / F.col("n")
    ).cast("long")
    return lim.crossJoin(F.broadcast(outside)).select(
        F.col("n").cast("long").alias("n_subjects"),
        "bias_cents",
        "loa_half_width",
        F.col("n_outside").cast("long").alias("n_outside_loa"),
        out_ppm.alias("outside_ppm"),
        (out_ppm < 80000).alias("methods_agree"),
    )
