"""Round-5 gates, batch 129: permutation test (q469 — the
distribution-free significance test behind every A/B readout: is
the observed between-arm difference larger than what label noise
alone produces — completing q409's parametric MDE and q438's
median band with an exact-resampling p-value) and a compaction
bin-packing planner (q470 — WHICH files to coalesce: daily
micro-partitions packed into target-sized bins by cumulative
offset, the concrete plan behind q61's OPTIMIZE and q437's
partition-count advisor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# q469: replicate count and the deterministic relabeling hash
_PERM_B = 64
_PERM_MULT = 2654435761
_PERM_STEP = 40503
_PERM_SPACE = 1 << 32
_PERM_BIT = 1 << 20


@register(
    "q469_permutation_test",
    f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS t
        FROM orders
    ),
    obs AS (
        SELECT SUM(t * cents) AS s1, SUM(t) AS n1,
               SUM((1 - t) * cents) AS s0, SUM(1 - t) AS n0
        FROM base
    ),
    relabeled AS (
        SELECT b.b,
               ((base.k * {_PERM_MULT} + b.b * {_PERM_STEP})
                   % {_PERM_SPACE}) // {_PERM_BIT} % 2 AS arm,
               base.cents
        FROM base CROSS JOIN generate_series(0, {_PERM_B - 1}) AS b(b)
    ),
    per_b AS (
        SELECT b,
               SUM(arm * cents) AS s1, SUM(arm) AS n1,
               SUM((1 - arm) * cents) AS s0, SUM(1 - arm) AS n0
        FROM relabeled GROUP BY b
    ),
    exceed AS (
        SELECT SUM(CASE WHEN
                ABS(CAST(p.s1 AS HUGEINT) * p.n0
                    - CAST(p.s0 AS HUGEINT) * p.n1)
                    * o.n1 * o.n0
                >= ABS(CAST(o.s1 AS HUGEINT) * o.n0
                    - CAST(o.s0 AS HUGEINT) * o.n1)
                    * p.n1 * p.n0
                THEN 1 ELSE 0 END) AS n_exceed
        FROM per_b p CROSS JOIN obs o
    )
    SELECT CAST(o.n1 AS BIGINT) AS n_treat,
           CAST(o.n0 AS BIGINT) AS n_ctrl,
           CAST(ROUND(1e3 * (o.s1 * 1e0 / o.n1 - o.s0 * 1e0 / o.n0))
               AS BIGINT) AS obs_diff_milli,
           CAST({_PERM_B} AS BIGINT) AS n_replicates,
           CAST(e.n_exceed AS BIGINT) AS n_exceed,
           CAST(ROUND(1e6 * (e.n_exceed + 1) / ({_PERM_B} + 1))
               AS BIGINT) AS p_value_micro
    FROM obs o CROSS JOIN exceed e
    """,
    doc="Permutation test for a between-arm mean difference "
    "(urgent-priority vs other orders on order value): the null "
    "distribution is built from B=64 deterministic pseudo-"
    "relabelings (multiplicative integer hash of the order key "
    "and the replicate id — identical arithmetic in both "
    "engines), and the p-value is the Monte-Carlo-corrected "
    "share of replicates whose |mean diff| reaches the observed "
    "one. Every exceed comparison is CROSS-MULTIPLIED in "
    "HUGEINT/DECIMAL(38) — |s1·n0 − s0·n1|·N1·N0 vs the observed "
    "mirror — so no replicate verdict rests on FP division. "
    "Scale: the B-fold expansion feeds ONE map-side-combined "
    "aggregate with 2B groups — shuffle traffic is B×arms rows "
    "per task regardless of data size; B is a bounded constant "
    "and the expansion is scan-local.",
)
def q469_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    base = o.select(
        F.col("o_orderkey").alias("k"),
        cents(F.col("o_totalprice")).alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("t"),
    )
    obs = base.agg(
        F.sum(F.col("t") * F.col("cents")).alias("os1"),
        F.sum("t").alias("on1"),
        F.sum((1 - F.col("t")) * F.col("cents")).alias("os0"),
        F.sum(1 - F.col("t")).alias("on0"),
    )
    relabeled = (
        base.select(
            "k",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        )
        .select(
            "b",
            (
                (
                    (
                        (F.col("k") * _PERM_MULT + F.col("b") * _PERM_STEP)
                        % _PERM_SPACE
                    )
                    / _PERM_BIT
                ).cast("long")
                % 2
            ).alias("arm"),
            "cents",
        )
    )
    per_b = relabeled.groupBy("b").agg(
        F.sum(F.col("arm") * F.col("cents")).alias("s1"),
        F.sum("arm").alias("n1"),
        F.sum((1 - F.col("arm")) * F.col("cents")).alias("s0"),
        F.sum(1 - F.col("arm")).alias("n0"),
    )
    joined = per_b.crossJoin(F.broadcast(obs))
    rep_term = F.abs(
        F.col("s1").cast(dec) * F.col("n0")
        - F.col("s0").cast(dec) * F.col("n1")
    ) * F.col("on1") * F.col("on0")
    obs_term = F.abs(
        F.col("os1").cast(dec) * F.col("on0")
        - F.col("os0").cast(dec) * F.col("on1")
    ) * F.col("n1") * F.col("n0")
    exceed = joined.agg(
        F.sum(F.when(rep_term >= obs_term, 1).otherwise(0)).alias(
            "n_exceed"
        )
    )
    return (
        obs.crossJoin(F.broadcast(exceed))
        .select(
            F.col("on1").cast("long").alias("n_treat"),
            F.col("on0").cast("long").alias("n_ctrl"),
            F.round(
                F.lit(1e3)
                * (
                    F.col("os1") / F.col("on1")
                    - F.col("os0") / F.col("on0")
                )
            )
            .cast("long")
            .alias("obs_diff_milli"),
            F.lit(_PERM_B).cast("long").alias("n_replicates"),
            F.col("n_exceed").cast("long").alias("n_exceed"),
            F.round(
                F.lit(1e6) * (F.col("n_exceed") + 1) / (_PERM_B + 1)
            )
            .cast("long")
            .alias("p_value_micro"),
        )
    )


# ---------------------------------------------------------------- q470
_PACK_TARGET = 1 << 20  # 1 MiB bins (fixture-scaled stand-in for 128 MB)


@register(
    "q470_compaction_bin_packing",
    f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               SUM(56 + LENGTH(l_returnflag) + LENGTH(l_linestatus))
                   AS bytes
        FROM lineitem GROUP BY 1
    ),
    packed AS (
        SELECT day, bytes,
               COALESCE(SUM(bytes) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // {_PACK_TARGET} AS bin
        FROM daily
    ),
    bins AS (
        SELECT bin, SUM(bytes) AS bin_bytes
        FROM packed GROUP BY bin
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MAX(bin_bytes) AS BIGINT) AS max_bin_bytes,
           CAST(ROUND(1e6 * AVG(bin_bytes) / {_PACK_TARGET}) AS BIGINT)
               AS avg_fill_micro,
           CAST(ROUND(1e6 * COUNT(*)
               / (SELECT COUNT(*) FROM daily)) AS BIGINT)
               AS files_ratio_micro
    FROM bins
    """,
    doc="Compaction bin-packing planner (WHICH small files to "
    "coalesce: daily micro-partitions packed into target-sized "
    "compaction bins by cumulative byte offset — adjacent days "
    "stay adjacent so the packed files preserve date clustering "
    "for min/max skipping; the plan q61's OPTIMIZE executes and "
    "q437's partition-count advisor sizes): per-day measured "
    "bytes, an exclusive ordered prefix sum assigns bin = "
    "floor(offset/target) (next-fit — a bin exceeds target by "
    "less than one day), then per-bin fill stats and the "
    "files-reduction ratio. Scale: the prefix sum runs over the "
    "DAY aggregate (bounded cardinality, block-offset prefix on "
    "the Spark side — no global window over rows); the heavy "
    "input never leaves its one map-side-combined groupBy.",
)
def q470_compaction_bin_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.sum(
            56
            + F.length("l_returnflag")
            + F.length("l_linestatus")
        ).alias("bytes")
    )
    # daily feeds the prefix machinery AND the n_days scalar count —
    # the count is a SEPARATE ACTION, so runtime exchange reuse cannot
    # share the scan; pin makes both read one materialization.
    daily = pin(daily)
    packed = prefix_agg(
        daily,
        [("day", "asc")],
        {"off": ("sum", "bytes")},
    ).select(
        "day",
        "bytes",
        F.floor(F.col("off") / _PACK_TARGET).alias("bin"),
    )
    bins = packed.groupBy("bin").agg(F.sum("bytes").alias("bin_bytes"))
    n_days = daily.count()
    return bins.agg(
        F.lit(n_days).cast("long").alias("n_days"),
        F.sum("bin_bytes").cast("long").alias("total_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.max("bin_bytes").cast("long").alias("max_bin_bytes"),
        F.round(F.lit(1e6) * F.avg("bin_bytes") / _PACK_TARGET)
        .cast("long")
        .alias("avg_fill_micro"),
        F.round(F.lit(1e6) * F.count(F.lit(1)) / n_days)
        .cast("long")
        .alias("files_ratio_micro"),
    )
