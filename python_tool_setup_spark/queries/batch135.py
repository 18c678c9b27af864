"""Round-5 gates, batch 135: incremental aggregate maintenance
(q481 — the merge-refresh contract behind every incremental
materialized view: aggregate the base partition once, aggregate
only the delta, MERGE the partial states (sum+sum, count+count,
min/min, max/max) and the result must equal a full recompute; the
oracle IS the full recompute, so the gate proves the mergeable-
state algebra end-to-end) and grouped robust MAD outliers (q482 —
the median/MAD robust z-score screen (Iglewicz-Hoaglin |0.6745 *
(x - med)/MAD| > 3.5) that survives the heavy tails that wreck
mean/stddev rules; exact medians from the value-domain histogram
operator, the outlier verdict cross-multiplied in integers so no
float ever decides a row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.percentiles import (
    grouped_exact_percentiles,
)
from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# Base/delta split point for the incremental-maintenance gate: rows
# before the cutoff are the "already materialized" base, rows at or
# after it are the newly arrived delta.
_IVM_CUTOFF = "1997-01-01"


@register(
    "q481_incremental_agg_maintenance",
    """
    WITH g AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents_sum,
               MIN(o_orderdate) AS first_date,
               MAX(o_orderdate) AS last_date
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(cents_sum AS BIGINT) AS cents_sum,
           CAST(first_date AS DATE) AS first_date,
           CAST(last_date AS DATE) AS last_date,
           CAST((2 * cents_sum + n_orders) // (2 * CAST(n_orders AS HUGEINT))
               AS BIGINT) AS avg_cents
    FROM g
    ORDER BY o_orderpriority
    """,
    doc="Incremental aggregate maintenance (the merge-refresh "
    "contract behind incremental materialized views: never rescan "
    "the base — aggregate the delta alone and MERGE partial "
    "states): the Spark side aggregates the pre-cutoff base and "
    "the post-cutoff delta SEPARATELY, then merges per-group "
    "states with the mergeable algebra (count+count, "
    "DECIMAL(38)-exact sum+sum, min of mins, max of maxes) via a "
    "full outer union-regroup; derived averages come from the "
    "merged sums only. The oracle is the full single-pass "
    "recompute, so a value-hash match IS the proof that merge == "
    "recompute (the algebraic property q440 audits in the "
    "abstract, exercised here on a real refresh). Scale: the "
    "refresh touches only the delta partition + the group-domain "
    "state table — the base is never rescanned, which is the "
    "entire point at 100 TB.",
)
def q481_incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        cents(F.col("o_totalprice")).cast("decimal(38,0)").alias("cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents_sum"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )

    base = partial(o.filter(F.col("o_orderdate") < F.lit(_IVM_CUTOFF)))
    delta = partial(
        o.filter(F.col("o_orderdate") >= F.lit(_IVM_CUTOFF))
    )
    # Merge the partial states: a union + regroup with the merge
    # algebra (works for any overlap of group keys, including groups
    # present in only one side — exactly what a MERGE upsert of an
    # aggregate state table does).
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents_sum")
            .cast("decimal(38,0)")
            .alias("cents_sum"),
            F.min("first_date").alias("first_date"),
            F.max("last_date").alias("last_date"),
        )
    )
    # Finals leave as BIGINT, never DECIMAL (the driver-hash
    # divergence class — see q521's note): cents_sum ~ 4.5e16 even at
    # sf10000, well inside 2^63; the merge algebra above still runs
    # DECIMAL(38)-exact. avg_cents is the half-away round of the
    # exact fraction via integer division on both engines — the old
    # ROUND(cents_sum * 1.0 / n) was decimal-typed division on Spark
    # but promoted differently on DuckDB (the q534-class latent
    # divergence).
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("cents_sum").cast("long").alias("cents_sum"),
        F.col("first_date").cast("date").alias("first_date"),
        F.col("last_date").cast("date").alias("last_date"),
        F.expr(
            "CAST((2 * cents_sum + n_orders)"
            " div (2 * CAST(n_orders AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("avg_cents"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------- q482
@register(
    "q482_grouped_mad_outliers",
    """
    WITH x AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders
    ),
    med AS (
        SELECT grp,
               CAST(ROUND(2 * QUANTILE_CONT(cents, 0.5)) AS BIGINT)
                   AS med2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM x GROUP BY grp
    ),
    dev AS (
        SELECT x.grp, ABS(2 * x.cents - m.med2) AS dev2
        FROM x JOIN med m ON m.grp = x.grp
    ),
    mad AS (
        SELECT grp,
               CAST(ROUND(2 * QUANTILE_CONT(dev2, 0.5)) AS BIGINT)
                   AS mad4
        FROM dev GROUP BY grp
    ),
    flags AS (
        SELECT d.grp,
               SUM(CASE WHEN d.dev2 * 13490 > 35000 * a.mad4
                        THEN 1 ELSE 0 END) AS n_outliers
        FROM dev d JOIN mad a ON a.grp = d.grp
        GROUP BY d.grp
    )
    SELECT m.grp, m.n, m.med2 AS median_cents_x2, a.mad4 AS mad_x4,
           CAST(f.n_outliers AS BIGINT) AS n_outliers,
           CAST(ROUND(f.n_outliers * 1000000.0 / m.n) AS BIGINT)
               AS outlier_ppm
    FROM med m JOIN mad a ON a.grp = m.grp
    JOIN flags f ON f.grp = m.grp
    ORDER BY m.grp
    """,
    doc="Grouped robust MAD outlier screen (Iglewicz-Hoaglin "
    "modified z-score |0.6745*(x-med)/MAD| > 3.5 — the rule that "
    "survives the heavy tails that wreck mean/stddev screens): "
    "exact per-group medians via the value-domain histogram "
    "percentile operator (no per-group row buffering — q47's "
    "scale shape), absolute deviations doubled to stay integer "
    "under the interpolated median, the MAD from a second "
    "histogram pass over the deviation domain, and the outlier "
    "verdict decided by integer cross-multiplication (dev2*13490 "
    "> 35000*mad4 — the 0.6745/3.5 rule with every float "
    "cleared). Scale: two histogram aggregations + one broadcast "
    "of the 5-row group stats; per-task state is a group's "
    "distinct-value histogram, never its rows.",
)
def q482_grouped_mad_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # MAD is inherently multi-pass (median, then median of
    # deviations, then flags) and every stage here is re-referenced
    # downstream; unpinned, the r10-before plan re-ran the orders scan
    # + percentile machinery 7 times (14 Exchange / 7 scans). Pin each
    # chain node once: x and dev are the O(rows) working set, med and
    # mad are ≤|priority| rows but their percentile machinery is the
    # expensive part.
    x = pin(
        load_table(spark, sf_dir, "orders").select(
            F.col("o_orderpriority").alias("grp"),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    med = pin(
        grouped_exact_percentiles(
            x, ["grp"], "cents", {"p50": 0.5}
        ).select(
            "grp",
            F.round(2 * F.col("p50")).cast("long").alias("med2"),
            F.col("n").cast("long").alias("n"),
        )
    )
    dev = pin(
        x.join(F.broadcast(med.select("grp", "med2")), "grp").select(
            "grp",
            F.abs(2 * F.col("cents") - F.col("med2")).alias("dev2"),
        )
    )
    mad = pin(
        grouped_exact_percentiles(
            dev, ["grp"], "dev2", {"p50": 0.5}
        ).select(
            "grp", F.round(2 * F.col("p50")).cast("long").alias("mad4")
        )
    )
    flags = (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                (
                    F.col("dev2") * 13490 > 35000 * F.col("mad4")
                ).cast("long")
            ).alias("n_outliers")
        )
    )
    return (
        med.join(mad, "grp")
        .join(flags, "grp")
        .select(
            "grp",
            "n",
            F.col("med2").alias("median_cents_x2"),
            F.col("mad4").alias("mad_x4"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
            F.round(F.col("n_outliers") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("outlier_ppm"),
        )
        .orderBy("grp")
    )
