"""Round-5 gates, batch 155: two-sample Cramér-von Mises (q521 —
the distribution-equality test that weights the WHOLE CDF gap, not
just its maximum like q346's KS: T = U/(nm(n+m)) - (4nm-1)/(6(n+m))
with U built from pooled-rank displacements — and every input is
an exact integer, so the statistic is computed without a single
engine-fragile float until the final quantized division) and
Kendall tau-b (q522 — the rank-correlation companion to q402's
Spearman that handles TIES correctly: concordant/discordant pairs
counted exactly on the joint value histogram — O(cells^2) metadata
instead of O(n^2) rows — with the tie-corrected denominator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck, dd_spark
from python_tool_setup_spark.tables import load_table

# CvM critical value at alpha=0.05 (asymptotic): T > 0.461 rejects.
_CVM_CRIT_MICRO = 461_000

# t_micro = round(1e6 * T), T = U/(nm(n+m)) - (4nm-1)/(6(n+m)), as ONE
# exact rational: num/den with num = 6e6*U - 1e6*nm*(4nm-1) and
# den = 6nm(n+m); round-half-away-from-zero via integer division
# (num + den/2) div den (den is even: den/2 = 3nm(n+m) exactly).
# NOTHING is ever cast to double — the r5 driver red row came from the
# two engines rounding the >2^53 U to double differently at a half-ulp
# (Spark's Decimal->double conversion is not correctly rounded once
# the unscaled value leaves the long range), flipping the final ROUND
# by 1. Headroom: num ~ 2e30 at sf1, DECIMAL(38)/HUGEINT cap ~1e38
# holds through sf~30; past that, scale the micro quantum down.


@register(
    "q521_cramer_von_mises",
    f"""
    WITH pooled AS (
        SELECT o_custkey % 2 = 0 AS is_a,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
               o_orderkey AS k
        FROM orders
    ),
    ranked AS (
        SELECT is_a,
               ROW_NUMBER() OVER (ORDER BY cents, k) AS r,
               SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                   OVER (ORDER BY cents, k)
                   - CASE WHEN is_a THEN 1 ELSE 0 END AS a_before
        FROM pooled
    ),
    disp AS (
        SELECT is_a,
               CASE WHEN is_a THEN r - (a_before + 1)
                    ELSE r - (r - a_before) END AS d
        FROM ranked
    ),
    s AS (
        SELECT SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS n,
               SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS m,
               SUM(CASE WHEN is_a
                   THEN CAST(d AS HUGEINT) * d ELSE 0 END) AS sa,
               SUM(CASE WHEN is_a THEN 0
                   ELSE CAST(d AS HUGEINT) * d END) AS sb
        FROM disp
    ),
    u AS (SELECT n, m, n * sa + m * sb AS u,
                 CAST(n AS HUGEINT) * m AS nm
          FROM s),
    t AS (SELECT n, m, u,
                 6000000 * u - 1000000 * nm * (4 * nm - 1) AS num,
                 6 * nm * (n + m) AS den,
                 3 * nm * (n + m) AS half
          FROM u),
    r AS (SELECT n, m, u,
                 CASE WHEN num >= 0
                      THEN CAST((num + half) // den AS BIGINT)
                      ELSE -CAST(((-num) + half) // den AS BIGINT)
                 END AS t_micro
          FROM t)
    SELECT CAST(n AS BIGINT) AS n_a,
           CAST(m AS BIGINT) AS n_b,
           CAST(u AS VARCHAR) AS u_stat,
           t_micro,
           t_micro > {_CVM_CRIT_MICRO} AS distributions_differ
    FROM r
    """,
    doc="Two-sample Cramér-von Mises (distribution equality "
    "weighting the WHOLE CDF gap, not just its maximum like "
    "q346's KS: T = U/(nm(n+m)) - (4nm-1)/(6(n+m)), U = "
    "n*sum_A(r_i - i)^2 + m*sum_B(r_j - j)^2 over pooled-rank "
    "displacements): the pooled rank uses the deterministic "
    "total order (cents, orderkey) — rare cent-ties broken "
    "identically on both engines — and each row's within-sample "
    "index comes from the SAME ordered prefix (exclusive count "
    "of own-sample rows), so the whole statistic is exact "
    "integer arithmetic END TO END — t_micro is the half-away "
    "round of the single exact fraction (6e6*U - 1e6*nm(4nm-1)) "
    "/ (6nm(n+m)) done with integer division on both engines, "
    "never a double (Decimal->double casts past 2^53 are not "
    "correctly rounded in the JVM and flipped the r5 ROUND by "
    "1); A/A parity split expects no rejection. Spark side "
    "ranks via the block-offset prefix machinery — no "
    "unpartitioned window. Scale: one range exchange + one "
    "aggregate.",
)
def q521_cramer_von_mises(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pooled = o.select(
        (F.col("o_custkey") % 2 == 0).alias("is_a"),
        cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    pre = prefix_agg(
        pooled.withColumn("ia", F.col("is_a").cast("long")),
        [("cents", "asc"), ("k", "asc")],
        {"a_before": ("sum", "ia"), "rm1": ("count", None)},
    )
    # rm1 is the exclusive count = rank - 1
    disp = pre.select(
        "is_a",
        F.when(
            F.col("is_a"),
            (F.col("rm1") + 1) - (F.col("a_before") + 1),
        )
        .otherwise(
            (F.col("rm1") + 1)
            - ((F.col("rm1") + 1) - F.col("a_before"))
        )
        .alias("d"),
    )
    s = disp.agg(
        F.sum(F.col("is_a").cast("long")).alias("n"),
        F.sum((~F.col("is_a")).cast("long")).alias("m"),
        F.sum(
            F.when(
                F.col("is_a"),
                F.col("d").cast("decimal(38,0)") * F.col("d"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sa"),
        F.sum(
            F.when(
                ~F.col("is_a"),
                F.col("d").cast("decimal(38,0)") * F.col("d"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sb"),
    )
    u = s.select(
        "n",
        "m",
        (F.col("n") * F.col("sa") + F.col("m") * F.col("sb")).alias(
            "u"
        ),
        (F.col("n").cast("decimal(38,0)") * F.col("m")).alias("nm"),
    )
    t = u.select(
        "n",
        "m",
        "u",
        (
            F.lit(6000000) * F.col("u")
            - F.lit(1000000)
            * F.col("nm")
            * (F.lit(4) * F.col("nm") - 1)
        ).alias("num"),
        (F.lit(6) * F.col("nm") * (F.col("n") + F.col("m"))).alias(
            "den"
        ),
        (F.lit(3) * F.col("nm") * (F.col("n") + F.col("m"))).alias(
            "half"
        ),
    )
    # round-half-away-from-zero in pure integer arithmetic (den even,
    # half = den/2 exactly); `div` is Spark's integral division.
    r = t.select(
        "n",
        "m",
        "u",
        F.expr(
            "CASE WHEN num >= 0"
            " THEN CAST((num + half) div den AS BIGINT)"
            " ELSE -CAST(((-num) + half) div den AS BIGINT) END"
        ).alias("t_micro"),
    )
    # u_stat leaves as a STRING, never DECIMAL: u ~ n^4 passes 2^63
    # already at sf0.1, and a DECIMAL final hash-diverges on the
    # driver regardless (DuckDB's pandas fetch coerces DECIMAL/HUGEINT
    # to float64 while Spark keeps Decimal — equal values, different
    # hash strings; the r5/r6 red rows). Scale-0 decimal-to-string is
    # plain digits on both engines.
    return r.select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.col("u").cast("string").alias("u_stat"),
        "t_micro",
        (F.col("t_micro") > _CVM_CRIT_MICRO).alias(
            "distributions_differ"
        ),
    )


# ---------------------------------------------------------------- q522
def _tau_expr(dd) -> str:
    return (
        f"CAST(ROUND({dd('c - d')} * 1000000"
        f" / SQRT({dd('n0 - tx')} * {dd('n0 - ty')})) AS BIGINT)"
    )


@register(
    "q522_kendall_tau_b",
    f"""
    WITH cells AS (
        SELECT CAST(ROUND(l_discount * 10000) AS BIGINT) AS x,
               CAST(ROUND(l_quantity) AS BIGINT) AS y,
               COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT SUM(CASE WHEN b.x > a.x AND b.y > a.y
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS cc,
               SUM(CASE WHEN b.x > a.x AND b.y < a.y
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS dd
        FROM cells a JOIN cells b
          ON b.x > a.x AND b.y <> a.y
    ),
    marg AS (
        SELECT SUM(c) AS n,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS tboth
        FROM cells
    ),
    mx AS (SELECT SUM(CAST(s AS HUGEINT) * (s - 1)) AS t2 FROM
           (SELECT SUM(c) AS s FROM cells GROUP BY x)),
    my AS (SELECT SUM(CAST(s AS HUGEINT) * (s - 1)) AS t2 FROM
           (SELECT SUM(c) AS s FROM cells GROUP BY y)),
    s AS (
        SELECT p.cc AS c, p.dd AS d,
               CAST(m.n AS HUGEINT) * (m.n - 1) // 2 AS n0,
               mx.t2 // 2 AS tx, my.t2 // 2 AS ty
        FROM pairs p CROSS JOIN marg m
        CROSS JOIN mx CROSS JOIN my
    )
    SELECT CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(n0 AS BIGINT) AS n_pairs,
           CAST(tx AS BIGINT) AS ties_x,
           CAST(ty AS BIGINT) AS ties_y,
           {_tau_expr(dd_duck)} AS tau_b_micro,
           ABS({_tau_expr(dd_duck)}) > 100000 AS correlated
    FROM s
    """,
    doc="Kendall tau-b (rank correlation that handles TIES "
    "correctly — q402's Spearman companion: tau-b = (C - D) / "
    "sqrt((n0 - tx)(n0 - ty)) with tie-pair corrections): "
    "concordant and discordant pairs are counted EXACTLY on the "
    "joint (discount, quantity) value histogram — every cell "
    "pair with both coordinates ordered contributes the product "
    "of its counts, so the O(n^2) pair count becomes O(cells^2) "
    "metadata (551 cells here; bounded by the value domains at "
    "any data size); tie counts from the margins, everything in "
    "HUGEINT/DECIMAL(38) exact integers until the one quantized "
    "division. Scale: one scan to the histogram, cell-domain "
    "math after.",
)
def q522_kendall_tau_b(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Bounded (discount x quantity) histogram referenced FIVE times
    # (both join sides + grand total + both tie margins): pin it so
    # lineitem is scanned once.
    cells = pin(
        li.groupBy(
            F.round(F.col("l_discount") * 10000).cast("long").alias("x"),
            F.round("l_quantity").cast("long").alias("y"),
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    a = cells.select(
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("c").cast("decimal(38,0)").alias("ac"),
    )
    b = cells.select(
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("c").alias("bc"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("bx") > F.col("ax")) & (F.col("by") != F.col("ay")),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("by") > F.col("ay"),
                    F.col("ac") * F.col("bc"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("cc"),
            F.sum(
                F.when(
                    F.col("by") < F.col("ay"),
                    F.col("ac") * F.col("bc"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("dd"),
        )
    )
    marg = cells.agg(F.sum("c").alias("n"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("s"))
        .agg(
            F.sum(
                F.col("s").cast("decimal(38,0)") * (F.col("s") - 1)
            ).alias("t2")
        )
        .select((F.col("t2") / 2).cast("decimal(38,0)").alias("tx"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("s"))
        .agg(
            F.sum(
                F.col("s").cast("decimal(38,0)") * (F.col("s") - 1)
            ).alias("t2")
        )
        .select((F.col("t2") / 2).cast("decimal(38,0)").alias("ty"))
    )
    s = (
        pairs.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("cc").alias("c"),
            F.col("dd").alias("d"),
            (
                F.col("n").cast("decimal(38,0)")
                * (F.col("n") - 1)
                / 2
            )
            .cast("decimal(38,0)")
            .alias("n0"),
            "tx",
            "ty",
        )
    )
    # Pair counts leave as BIGINT, never DECIMAL (the driver-hash
    # divergence class — see q521): n_pairs = n(n-1)/2 stays under
    # 2^63 up to n ~ 4.3e9 lineitem rows (~sf700); internal math
    # stays DECIMAL(38)/HUGEINT-exact above that regardless.
    return s.select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("tx").cast("long").alias("ties_x"),
        F.col("ty").cast("long").alias("ties_y"),
        F.expr(_tau_expr(dd_spark)).alias("tau_b_micro"),
        (F.abs(F.expr(_tau_expr(dd_spark))) > 100000).alias("correlated"),
    )
