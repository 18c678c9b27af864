"""Round-5 gates, batch 114: 1-D Wasserstein drift (q436 — the
earth-mover distance between the old and new data halves' price
distributions: the INTEGRAL drift metric that complements q346's
KS max-gap and q261's binned PSI — KS sees the worst point, EMD
sees the total work), a shuffle-partition sizing advisor (q437 —
recommended spark.sql.shuffle.partitions for the measured table
bytes at 64/128/256 MB targets: the config everyone hardcodes,
derived from data), and a distribution-free median confidence
band (q438 — binomial order-statistic bounds around each stream's
median: the uncertainty q316/q47's point medians silently drop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_BIN_CENTS = 10_000  # 100-dollar EMD bins
_TARGETS_MB = [64, 128, 256]


# ---------------------------------------------------------------- q436
@register(
    "q436_wasserstein_drift",
    f"""
    WITH binned AS (
        SELECT CAST(ROUND(100 * o_totalprice) AS BIGINT) // {_BIN_CENTS}
                   AS b,
               CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS is_new
        FROM orders
    ),
    hist AS (
        SELECT b,
               SUM(1 - is_new) AS c_old,
               SUM(is_new) AS c_new
        FROM binned GROUP BY b
    ),
    tot AS (
        SELECT SUM(c_old) AS n_old, SUM(c_new) AS n_new FROM hist
    ),
    cdf AS (
        SELECT b,
               SUM(c_old) OVER (ORDER BY b) AS cum_old,
               SUM(c_new) OVER (ORDER BY b) AS cum_new
        FROM hist
    )
    SELECT CAST((SELECT n_old FROM tot) AS BIGINT) AS n_old,
           CAST((SELECT n_new FROM tot) AS BIGINT) AS n_new,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(ABS(cum_old * (SELECT n_new FROM tot)
               - cum_new * (SELECT n_old FROM tot))) AS BIGINT)
               AS emd_num,
           CAST(ROUND(1e6 * SUM(ABS(CAST(cum_old AS HUGEINT)
               * (SELECT n_new FROM tot)
               - CAST(cum_new AS HUGEINT) * (SELECT n_old FROM tot)))
               / ((SELECT n_old FROM tot)
                  * CAST((SELECT n_new FROM tot) AS HUGEINT)))
               AS BIGINT) AS emd_bins_micro
    FROM cdf
    """,
    doc="1-D Wasserstein (earth-mover) drift between the old and "
    "new data halves' order-value distributions (EMD = sum over "
    "bins of |CDF_old - CDF_new| in bin units — the INTEGRAL "
    "drift that complements q346's KS max-gap and q261's PSI; "
    "KS flags one bad point, EMD prices the total probability "
    "mass that must move): $100 bins, both CDFs CROSS-MULTIPLIED "
    "(cum_old*n_new - cum_new*n_old) so the whole distance is "
    "exact integer arithmetic until one final micro division. "
    "Spark runs the bin-domain CDFs through the blockrank "
    "prefix (no unpartitioned window); the oracle's global "
    "window over the same integers proves the distributed "
    "prefix exact. Scale: one scan to |bins| metadata.",
)
def q436_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.floor(cents(F.col("o_totalprice")) / _BIN_CENTS).alias("b"),
        F.when(F.col("o_orderkey") % 2 == 1, 1).otherwise(0).alias("is_new"),
    )
    # Bin histogram read by the totals AND the prefix machinery: pin
    # it so orders is scanned once.
    hist = pin(
        binned.groupBy("b").agg(
            F.sum(1 - F.col("is_new")).alias("c_old"),
            F.sum("is_new").alias("c_new"),
        )
    )
    tot = hist.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    pre = prefix_agg(
        hist,
        [("b", "asc")],
        {"p_old": ("sum", "c_old"), "p_new": ("sum", "c_new")},
    )
    cdf = pre.select(
        "b",
        (F.coalesce("p_old", F.lit(0)) + F.col("c_old")).alias("cum_old"),
        (F.coalesce("p_new", F.lit(0)) + F.col("c_new")).alias("cum_new"),
    ).crossJoin(F.broadcast(tot))
    dec = "decimal(38,0)"
    term = F.abs(
        F.col("cum_old").cast(dec) * F.col("n_new")
        - F.col("cum_new").cast(dec) * F.col("n_old")
    )
    return cdf.agg(
        F.max("n_old").cast("long").alias("n_old"),
        F.max("n_new").cast("long").alias("n_new"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum(term).cast("long").alias("emd_num"),
        F.round(
            F.lit(1e6)
            * F.sum(term).cast("double")
            / (
                F.max("n_old").cast("double")
                * F.max("n_new").cast("double")
            )
        )
        .cast("long")
        .alias("emd_bins_micro"),
    )


# ---------------------------------------------------------------- q437
@register(
    "q437_shuffle_sizing_advisor",
    f"""
    WITH bytes_est AS (
        SELECT COUNT(*) AS n_rows,
               SUM(8 * 6 + 1 + 1
                   + len(l_returnflag) + len(l_linestatus) + 8)
                   AS est_bytes
        FROM lineitem
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in _TARGETS_MB)})
            AS t(target_mb))
    SELECT CAST(c.target_mb AS BIGINT) AS target_mb,
           CAST(b.n_rows AS BIGINT) AS n_rows,
           CAST(b.est_bytes AS BIGINT) AS est_bytes,
           CAST(GREATEST(1, CEIL(CAST(b.est_bytes AS DOUBLE)
               / (c.target_mb * 1048576e0))) AS BIGINT)
               AS recommended_partitions
    FROM cfg c, bytes_est b ORDER BY c.target_mb
    """,
    doc="Shuffle-partition sizing advisor (recommended partition "
    "count so each shuffle partition lands near 64/128/256 MB "
    "of UNCOMPRESSED row bytes — the spark.sql.shuffle."
    "partitions knob everyone hardcodes at 200, derived from "
    "the measured table instead; undersized partitions waste "
    "scheduler overhead, oversized ones spill): row bytes "
    "estimated from the actual schema (6 numeric longs/doubles "
    "+ 2 single-char flags + measured string lengths + date), "
    "one aggregate, then metadata math. The estimate is the "
    "same deterministic integer in both engines. Scale: the "
    "point — this is the gate that keeps every OTHER gate's "
    "shuffles sized for the cluster.",
)
def q437_shuffle_sizing_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    row_bytes = (
        F.lit(8 * 6 + 1 + 1 + 8)
        + F.length("l_returnflag")
        + F.length("l_linestatus")
    )
    bytes_est = li.agg(
        F.count("*").alias("n_rows"), F.sum(row_bytes).alias("est_bytes")
    )
    cfg = spark.createDataFrame([(t,) for t in _TARGETS_MB], ["target_mb"])
    return (
        F.broadcast(cfg)
        .crossJoin(bytes_est)
        .select(
            F.col("target_mb").cast("long").alias("target_mb"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("est_bytes").cast("long").alias("est_bytes"),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("est_bytes").cast("double")
                    / (F.col("target_mb") * F.lit(1048576.0))
                ),
            )
            .cast("long")
            .alias("recommended_partitions"),
        )
        .orderBy("target_mb")
    )


# ---------------------------------------------------------------- q438
@register(
    "q438_median_confidence_band",
    """
    WITH vals AS (
        SELECT event_type, CAST(ROUND(1e6 * value) AS BIGINT) AS v
        FROM events
    ),
    ranks AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(FLOOR(COUNT(*) / 2e0
                   - 196e-2 * sqrt(COUNT(*) / 4e0)) AS BIGINT) AS r_lo,
               CAST(CEIL(COUNT(*) / 2e0
                   + 1e0 + 196e-2 * sqrt(COUNT(*) / 4e0)) AS BIGINT) AS r_hi
        FROM vals GROUP BY event_type
    ),
    ordered AS (
        SELECT v.event_type, v.v,
               ROW_NUMBER() OVER (PARTITION BY v.event_type
                                  ORDER BY v.v, v.rowid_) AS rk
        FROM (SELECT event_type, v,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY v) AS rowid_
              FROM vals) v
    )
    SELECT r.event_type,
           CAST(r.n AS BIGINT) AS n,
           CAST(MAX(CASE WHEN o.rk = r.r_lo THEN o.v END) AS BIGINT)
               AS ci_lo_micro,
           CAST(MAX(CASE WHEN o.rk = GREATEST(r.r_lo + 1, (r.n + 1) // 2)
                    THEN o.v END) AS BIGINT) AS median_lo_micro,
           CAST(MAX(CASE WHEN o.rk = LEAST(r.r_hi, r.n) THEN o.v END)
               AS BIGINT) AS ci_hi_micro
    FROM ranks r JOIN ordered o ON o.event_type = r.event_type
    GROUP BY r.event_type, r.n ORDER BY r.event_type
    """,
    doc="Distribution-free median confidence band per stream "
    "(order-statistic CI: ranks n/2 -/+ z*sqrt(n)/2 bracket the "
    "median with ~95% coverage for ANY distribution — the "
    "uncertainty q47/q316's point medians silently drop; two "
    "streams whose bands overlap are not distinguishably "
    "different, no matter what the points say): micro-quantized "
    "values, bound RANKS from the binomial normal approximation "
    "in identical double shape then floor/ceil to integers, the "
    "bracketing order statistics picked by per-stream "
    "partitioned rank (total order via (v, tie-rank)). Scale: "
    "per-stream sorts are partitioned; ranks could route "
    "through blockrank at larger group cardinality.",
)
def q438_median_confidence_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        F.round(F.lit(1e6) * F.col("value")).cast("long").alias("v"),
    )
    n = F.count("*")
    ranks = vals.groupBy("event_type").agg(
        n.alias("n"),
        F.floor(
            n / F.lit(2.0) - F.lit(1.96) * F.sqrt(n / F.lit(4.0))
        )
        .cast("long")
        .alias("r_lo"),
        F.ceil(
            n / F.lit(2.0)
            + F.lit(1.0)
            + F.lit(1.96) * F.sqrt(n / F.lit(4.0))
        )
        .cast("long")
        .alias("r_hi"),
    )
    w0 = Window.partitionBy("event_type").orderBy("v")
    inner = vals.withColumn("rowid_", F.row_number().over(w0))
    w1 = Window.partitionBy("event_type").orderBy("v", "rowid_")
    ordered = inner.withColumn("rk", F.row_number().over(w1))
    j = ordered.join(F.broadcast(ranks), "event_type")
    med_rank = F.greatest(
        F.col("r_lo") + 1, F.floor((F.col("n") + 1) / 2).cast("long")
    )
    return (
        j.groupBy("event_type", "n")
        .agg(
            F.max(F.when(F.col("rk") == F.col("r_lo"), F.col("v")))
            .cast("long")
            .alias("ci_lo_micro"),
            F.max(F.when(F.col("rk") == med_rank, F.col("v")))
            .cast("long")
            .alias("median_lo_micro"),
            F.max(
                F.when(
                    F.col("rk") == F.least(F.col("r_hi"), F.col("n")),
                    F.col("v"),
                )
            )
            .cast("long")
            .alias("ci_hi_micro"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "ci_lo_micro",
            "median_lo_micro",
            "ci_hi_micro",
        )
        .orderBy("event_type")
    )
