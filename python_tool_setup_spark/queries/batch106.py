"""Round-5 gates, batch 106: Freedman-Diaconis binning advisor
(q418 — the robust-IQR-based histogram bin width/count for each
numeric column: the knob every profiling UI (q141/q278) hardcodes,
derived instead of guessed), per-user behavioral entropy (q419 —
how DIVERSE each user's event-type mix is, summarized over the
user base: the engagement-breadth metric next to q397's
stickiness depth), and a catalog dead-stock audit (q420 — parts
that never sold, by brand, with the retail value parked in them:
the anti-join inventory readout q381's integrity audit never
prices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q418
@register(
    "q418_fd_binning_advisor",
    """
    WITH stacked AS (
        SELECT 'l_extendedprice' AS col, l_extendedprice AS v
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', l_quantity FROM lineitem
        UNION ALL
        SELECT 'o_totalprice', o_totalprice FROM orders
    ),
    st AS (
        SELECT col, COUNT(*) AS n, MIN(v) AS vmin, MAX(v) AS vmax,
               quantile_cont(v, 25e-2) AS q25,
               quantile_cont(v, 75e-2) AS q75
        FROM stacked GROUP BY col
    )
    SELECT col,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND(1e3 * 2e0 * (q75 - q25) / cbrt(CAST(n AS DOUBLE)))
               AS BIGINT) AS fd_width_milli,
           CAST(CEIL((vmax - vmin)
               / (CAST(ROUND(1e3 * 2e0 * (q75 - q25)
                   / cbrt(CAST(n AS DOUBLE))) AS BIGINT) / 1e3))
               AS BIGINT) AS fd_bins
    FROM st ORDER BY col
    """,
    doc="Freedman-Diaconis histogram binning advisor per numeric "
    "column (width = 2*IQR/n^(1/3), the robust rule that ignores "
    "outliers where Sturges/root-n break — the knob q141's "
    "length histogram and q278's profile hardcode, derived from "
    "the data instead): columns stacked into one (col, value) "
    "relation so ONE scan profiles all three, exact IQR from "
    "ONE blockrank prefix over the stacked histogram (global "
    "exclusive prefix minus per-column start offsets — fully "
    "parallel, no per-column single-task window), the bin COUNT "
    "computed from the milli-ROUNDED width so both engines "
    "divide identical numbers (cbrt is libm — its last ulp "
    "cannot flip an integer after the shared quantization). "
    "Scale: one stacked scan; percentile state is per-column "
    "distinct-value histograms.",
)
def q418_fd_binning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # ONE lineitem scan projecting both columns, widened via stack()
    stacked = li.select(
        F.expr(
            "stack(2, 'l_extendedprice', l_extendedprice,"
            " 'l_quantity', l_quantity) AS (col, v)"
        )
    ).unionByName(
        o.select(
            F.lit("o_totalprice").alias("col"),
            F.col("o_totalprice").alias("v"),
        )
    )
    # Exact per-column IQR via ONE blockrank prefix over the stacked
    # (col, v) histogram: the global exclusive prefix minus each
    # column's start offset is the per-column cumulative count — every
    # block works in parallel, no per-column single-partition window
    # (the grouped-percentile operator's window would put each
    # column's whole distinct-value histogram in one task: 12.8s at
    # sf0.1 vs ~2s for this shape).
    from python_tool_setup_spark.operators.blockrank import prefix_agg

    hist = stacked.groupBy("col", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pre0 = prefix_agg(
        hist, [("col", "asc"), ("v", "asc")], {"gpre": ("sum", "cnt")}
    ).select("col", "v", "cnt", F.coalesce("gpre", F.lit(0)).alias("gpre"))
    # Everything per-column derives from the prefix output itself: the
    # column's global start offset is just min(gpre) over the column
    # (gpre is the EXCLUSIVE prefix, so the first row carries the
    # offset), and n/vmin/vmax ride along in the same tiny aggregate —
    # hist is referenced only once, so the shuffle is computed once
    # (exchange reuse covers the window's two readers).
    meta = pre0.groupBy("col").agg(
        F.sum("cnt").alias("n"),
        F.min("gpre").alias("off"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    pre = pre0.join(F.broadcast(meta), "col").select(
        "col",
        "v",
        "cnt",
        "n",
        (F.col("gpre") - F.col("off")).alias("before"),
    )

    def straddle(p: float, tag: str):
        k = (F.col("n") - 1).cast("double") * F.lit(p)
        lo = F.floor(k).cast("long")
        hi = F.least(F.col("n") - 1, lo + 1)
        covers = lambda i: (F.col("before") <= i) & (
            i < F.col("before") + F.col("cnt")
        )
        return [
            F.max(F.when(covers(lo), F.col("v"))).alias(f"_lo_{tag}"),
            F.max(F.when(covers(hi), F.col("v"))).alias(f"_hi_{tag}"),
        ]

    stat = pre.groupBy("col", "n").agg(
        *straddle(0.25, "q25"), *straddle(0.75, "q75")
    )

    def interp(p: float, tag: str):
        k = (F.col("n") - 1).cast("double") * F.lit(p)
        frac = k - F.floor(k)
        return F.col(f"_lo_{tag}") + frac * (
            F.col(f"_hi_{tag}") - F.col(f"_lo_{tag}")
        )

    iqr = stat.select(
        "col", "n", interp(0.25, "q25").alias("q25"),
        interp(0.75, "q75").alias("q75"),
    )
    ranges = meta.select("col", "vmin", "vmax")
    width_milli = F.round(
        F.lit(1e3)
        * F.lit(2.0)
        * (F.col("q75") - F.col("q25"))
        / F.cbrt(F.col("n").cast("double"))
    ).cast("long")
    joined = iqr.join(ranges, "col").select(
        "col",
        F.col("n").cast("long").alias("n"),
        width_milli.alias("fd_width_milli"),
        F.ceil(
            (F.col("vmax") - F.col("vmin")) / (width_milli / F.lit(1e3))
        )
        .cast("long")
        .alias("fd_bins"),
    )
    return joined.orderBy("col")


# ---------------------------------------------------------------- q419
@register(
    "q419_user_behavior_entropy",
    """
    WITH mix AS (
        SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
    ),
    utot AS (
        SELECT user_id, SUM(c) AS t, COUNT(*) AS n_types FROM mix GROUP BY 1
    ),
    uent AS (
        SELECT m.user_id, u.n_types,
               SUM(CAST(ROUND(-1e9 * (CAST(m.c AS DOUBLE) / u.t)
                   * ln(CAST(m.c AS DOUBLE) / u.t)) AS BIGINT)) AS ent_nano
        FROM mix m JOIN utot u ON u.user_id = m.user_id
        GROUP BY m.user_id, u.n_types
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_types = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS single_type_users,
           CAST(ROUND(CAST(SUM(ent_nano) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mean_entropy_nano,
           CAST(MAX(ent_nano) AS BIGINT) AS max_entropy_nano
    FROM uent
    """,
    doc="Per-user behavioral entropy, summarized over the user base "
    "(how DIVERSE each user's event-type mix is — engagement "
    "BREADTH, the complement of q397's stickiness depth and "
    "q349's corpus-level diversity; single-type users are the "
    "zero-entropy cohort a re-engagement campaign targets): "
    "per-(user, type) counts, per-user -p ln p terms "
    "nano-quantized BEFORE the per-user integer sum (and the "
    "user-base mean taken over those exact integers), max "
    "bounded by ln(|types|). Scale: two user-keyed aggregates "
    "that co-partition on the same shuffle.",
)
def q419_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    mix = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    utot = mix.groupBy("user_id").agg(
        F.sum("c").alias("t"), F.count("*").alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("t")
    uent = (
        mix.join(utot, "user_id")
        .select(
            "user_id",
            "n_types",
            F.round(F.lit(-1e9) * p * F.log(p)).cast("long").alias("tn"),
        )
        .groupBy("user_id", "n_types")
        .agg(F.sum("tn").alias("ent_nano"))
    )
    return uent.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("n_types") == 1, 1).otherwise(0))
        .cast("long")
        .alias("single_type_users"),
        F.round(F.sum("ent_nano").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_entropy_nano"),
        F.max("ent_nano").cast("long").alias("max_entropy_nano"),
    )


# ---------------------------------------------------------------- q420
@register(
    "q420_catalog_dead_stock",
    """
    WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem),
    flagged AS (
        SELECT p.p_brand,
               CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END AS dead,
               CAST(ROUND(100 * p.p_retailprice) AS BIGINT) AS cents
        FROM part p LEFT JOIN sold s ON s.l_partkey = p.p_partkey
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(dead) AS BIGINT) AS dead_parts,
           CAST(ROUND(1e6 * SUM(dead) / COUNT(*)) AS BIGINT)
               AS dead_share_micro,
           CAST(SUM(CASE WHEN dead = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS dead_retail_cents
    FROM flagged GROUP BY p_brand ORDER BY p_brand
    """,
    doc="Catalog dead-stock audit per brand (parts that never "
    "appear in a lineitem, counted and PRICED — the inventory "
    "value parked in unsold catalog; q381 checks FKs point "
    "somewhere, this prices the keys nothing points AT): "
    "distinct sold-part keys (one lineitem projection), "
    "broadcast-able left anti-style join flagged inline so one "
    "pass yields both the count and the retail-cents exposure "
    "per brand. Scale: the distinct is the only shuffle; part "
    "is the small side and stays broadcast.",
)
def q420_catalog_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    sold = li.select(F.col("l_partkey")).distinct()
    flagged = p.join(
        sold, sold.l_partkey == p.p_partkey, "left"
    ).select(
        "p_brand",
        F.when(F.col("l_partkey").isNull(), 1).otherwise(0).alias("dead"),
        cents(F.col("p_retailprice")).alias("cents"),
    )
    return (
        flagged.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("dead").cast("long").alias("dead_parts"),
            F.round(F.lit(1e6) * F.sum("dead") / F.count("*"))
            .cast("long")
            .alias("dead_share_micro"),
            F.sum(F.when(F.col("dead") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("dead_retail_cents"),
        )
        .orderBy("p_brand")
    )
