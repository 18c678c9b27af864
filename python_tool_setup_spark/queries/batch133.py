"""Round-5 gates, batch 133: Benford first-digit audit (q477 — the
classic fraud / synthetic-data screen: first significant digits of
money amounts should follow log10(1+1/d); a per-digit chi-square
against that law flags fabricated or truncated numeric columns
before they poison downstream aggregates) and zone-map clustering
depth (q478 — the WHY behind Z-order/resort decisions: split the
table into 64 equal row-blocks in stored order, take per-block
min/max of a predicate column — exactly the parquet/ORC zone map —
and measure how many blocks' ranges overlap each block. Depth 1 =
perfectly clustered (every point predicate prunes to one block);
depth ~n_blocks = the column is shuffled and zone maps prune
nothing. Reported for the stored layout AND the post-sort best
case, so the gap IS the measured benefit of re-clustering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# chi-square critical value at df=8, alpha=0.05, in nanos.
_CHI2_CRIT_NANO = 15_507_310_000

# Benford expectation and the chi-square term, written once and used
# verbatim by BOTH engines (the q476 pattern): all inputs are exact
# integers (cnt, n, exp_ppm), every double step is an exactly-rounded
# IEEE op on identical operands, and the one library call (LOG10 on
# nine constants) is quantized to ppm before any arithmetic uses it.
_EXP_PPM_EXPR = (
    "CAST(ROUND(LOG10(1 + 1 / CAST(d AS DOUBLE)) * 1000000) AS BIGINT)"
)
# (cnt - E)^2 / E with E = n*exp_ppm/1e6, as nano-quantized BIGINT;
# dev is kept integer (cnt*1e6 - n*exp_ppm) and squared via plain
# multiplication (never POWER) so both engines round identically.
_TERM_NANO_EXPR = (
    "CAST(ROUND("
    "(CAST(cnt * 1000000 - n * exp_ppm AS DOUBLE) / 1000000)"
    " * (CAST(cnt * 1000000 - n * exp_ppm AS DOUBLE) / 1000000)"
    " / (CAST(n AS DOUBLE) * exp_ppm / 1000000) * 1000000000"
    ") AS BIGINT)"
)


@register(
    "q477_benford_first_digit",
    f"""
    WITH obs AS (
        SELECT CAST(SUBSTRING(CAST(CAST(ROUND(100 * o_totalprice)
                   AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1
    ),
    spine AS (
        SELECT CAST(d AS INT) AS d, {_EXP_PPM_EXPR} AS exp_ppm
        FROM range(1, 10) t(d)
    ),
    tot AS (SELECT SUM(cnt) AS n FROM obs),
    terms AS (
        SELECT s.d, COALESCE(o.cnt, 0) AS cnt, s.exp_ppm, t.n
        FROM spine s LEFT JOIN obs o USING (d) CROSS JOIN tot t
    ),
    scored AS (
        SELECT d, cnt, exp_ppm, n, {_TERM_NANO_EXPR} AS term_nano
        FROM terms
    ),
    chi AS (SELECT SUM(term_nano) AS chi2_nano FROM scored)
    SELECT d AS digit,
           CAST(cnt AS BIGINT) AS n_obs,
           CAST(ROUND(cnt * 1000000.0 / n) AS BIGINT) AS obs_ppm,
           exp_ppm,
           term_nano AS chi2_term_nano,
           -- SUM(BIGINT) is HUGEINT in DuckDB; pandas-fetch coerces
           -- HUGEINT to float64 (driver-hash divergence vs Spark's
           -- int64) — re-land on BIGINT.
           CAST(chi.chi2_nano AS BIGINT) AS chi2_nano,
           chi.chi2_nano <= {_CHI2_CRIT_NANO} AS benford_ok
    FROM scored CROSS JOIN chi
    ORDER BY digit
    """,
    doc="Benford first-digit audit (fraud / synthetic-data screen: "
    "first significant digits of real money amounts follow "
    "log10(1+1/d); fabricated or truncated columns don't): first "
    "digit extracted from the exact cents integer's string form "
    "(no float log, so no 10^k boundary hazard), counted by one "
    "map-side-combined groupBy; a 9-row digit spine full-outer-"
    "joined so absent digits count 0 and the total counts every "
    "observed digit (a sub-cent price has first digit 0); "
    "expectations ppm-quantized from LOG10 once, chi-square "
    "terms computed from exact integers with plain-"
    "multiplication squaring and nano-quantized "
    "per-digit BEFORE the 9-term sum (FP-order-free), verdict vs "
    "the df=8 5% critical value in integer nanos. Scale: one "
    "aggregate over the column, 9-row metadata after — the audit "
    "costs a single scan at any size.",
)
def q477_benford_first_digit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    obs = (
        o.select(
            F.substring(
                cents(F.col("o_totalprice")).cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = spark.range(1, 10).select(
        F.col("id").cast("int").alias("d"),
        F.expr(_EXP_PPM_EXPR).alias("exp_ppm"),
    )
    # Single tree over the 9-row digit table (the q294 pattern): the
    # grand total and the chi² sum are window sums over the spine rows
    # instead of separate aggregate branches — the old
    # tot-broadcast + chi-broadcast shape re-instantiated the orders
    # aggregation four times in one plan (4 scans in the r10 corpus).
    # The full outer join keeps digits outside 1-9 (a price below half
    # a cent has first digit 0) long enough to count them in the grand
    # total, as the oracle's tot does; only the spine's digits remain.
    # bounded-domain: digit table: the 9-row spine plus observed digits
    w1 = Window.partitionBy(F.lit(1))
    terms = (
        spine.join(obs, "d", "full")
        .select(
            "d",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            "exp_ppm",
        )
        .withColumn("n", F.sum("cnt").over(w1))
        .where(F.col("exp_ppm").isNotNull())
    )
    scored = terms.select(
        "*", F.expr(_TERM_NANO_EXPR).alias("term_nano")
    )
    return (
        scored.withColumn("chi2_nano", F.sum("term_nano").over(w1))
        .select(
            F.col("d").alias("digit"),
            F.col("cnt").cast("long").alias("n_obs"),
            F.round(F.col("cnt") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("obs_ppm"),
            "exp_ppm",
            F.col("term_nano").alias("chi2_term_nano"),
            "chi2_nano",
            (F.col("chi2_nano") <= F.lit(_CHI2_CRIT_NANO)).alias(
                "benford_ok"
            ),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------- q478
_N_ZONE_BLOCKS = 64


def _depth_oracle(layout: str, key: str) -> str:
    return f"""
    SELECT '{layout}' AS layout, n_blocks, avg_depth_micro, max_depth
    FROM (
        WITH h AS (
            SELECT {key} AS k, COUNT(*) AS cnt,
                   MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
            FROM lineitem GROUP BY 1
        ),
        tot AS (SELECT SUM(cnt) AS n FROM h),
        cum AS (
            SELECT k, cnt, mn, mx,
                   SUM(cnt) OVER (ORDER BY k) - cnt AS bef
            FROM h
        ),
        blocks AS (
            SELECT CAST(FLOOR(bef * {_N_ZONE_BLOCKS} * 1.0 / n)
                       AS BIGINT) AS blk,
                   MIN(mn) AS lo, MAX(mx) AS hi
            FROM cum CROSS JOIN tot GROUP BY 1
        ),
        depth AS (
            SELECT a.blk, COUNT(*) AS d
            FROM blocks a JOIN blocks b
              ON a.lo <= b.hi AND b.lo <= a.hi
            GROUP BY a.blk
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(ROUND(SUM(d) * 1000000.0 / COUNT(*)) AS BIGINT)
                   AS avg_depth_micro,
               CAST(MAX(d) AS BIGINT) AS max_depth
        FROM depth
    )
    """


@register(
    "q478_zone_map_clustering_depth",
    """
    WITH both_layouts AS (
    """
    + _depth_oracle("stored", "l_orderkey")
    + "\nUNION ALL\n"
    + _depth_oracle("sorted_by_shipdate", "l_shipdate")
    + """
    ),
    stored AS (SELECT avg_depth_micro AS sa FROM both_layouts
               WHERE layout = 'stored'),
    srt AS (SELECT avg_depth_micro AS ba FROM both_layouts
            WHERE layout = 'sorted_by_shipdate')
    SELECT layout, n_blocks, avg_depth_micro, max_depth,
           stored.sa >= 2 * srt.ba AS recommend_recluster
    FROM both_layouts CROSS JOIN stored CROSS JOIN srt
    ORDER BY layout
    """,
    doc="Zone-map clustering depth (the measured WHY behind "
    "Z-order/resort: split the table into 64 equal-count blocks "
    "in a declared order — aligned to leading-key runs, the way "
    "row groups are laid down when writing sorted data — take "
    "per-block min/max of the predicate column (exactly the "
    "parquet/ORC zone map) and count how many block ranges "
    "overlap each block: depth 1 means a point predicate prunes "
    "to one block, depth ~64 means zone maps prune nothing; "
    "Snowflake exposes the same statistic as "
    "clustering_information). Computed entirely in the KEY "
    "domain, never the row domain: one per-key aggregate "
    "(count + min/max of the predicate column), exclusive "
    "prefix counts over the key histogram, integer block "
    "assignment floor(before*64/n), then a broadcast self-join "
    "of the <=64-row block table. Reported for the stored "
    "(orderkey) layout and the post-sort best case; "
    "recommend_recluster when stored depth >= 2x sorted. Scale: "
    "the row pass is one map-side-combined groupBy; the prefix "
    "runs over the key histogram (|keys| << |rows|), and the "
    "depth math is O(64^2) metadata at any table size.",
)
def q478_zone_map_clustering_depth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from python_tool_setup_spark.operators.blockrank import pin, prefix_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )

    def depth_for(layout: str, key: str) -> DataFrame:
        h = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("l_shipdate").alias("mn"),
            F.max("l_shipdate").alias("mx"),
        )
        cum = prefix_agg(h, [("k", "asc")], {"bef": ("sum", "cnt")})
        tot = h.agg(F.sum("cnt").alias("n"))
        blocks = (
            cum.crossJoin(F.broadcast(tot))
            .select(
                F.floor(
                    F.col("bef") * _N_ZONE_BLOCKS * 1.0 / F.col("n")
                )
                .cast("long")
                .alias("blk"),
                "mn",
                "mx",
            )
            .groupBy("blk")
            .agg(F.min("mn").alias("lo"), F.max("mx").alias("hi"))
        )
        b = blocks.select(
            F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi")
        )
        depth = (
            blocks.join(
                F.broadcast(b),
                (F.col("lo") <= F.col("b_hi"))
                & (F.col("b_lo") <= F.col("hi")),
            )
            .groupBy("blk")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return depth.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.round(F.sum("d") * 1000000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_depth_micro"),
            F.max("d").cast("long").alias("max_depth"),
        )

    stored = depth_for("stored", "l_orderkey")
    srt = depth_for("sorted_by_shipdate", "l_shipdate")
    # Pin the 2-row union before the scalar fan-out: sa/ba re-reference
    # the depth pipelines, and without the pin each reference
    # re-instantiates the whole scan+prefix+join subtree (64 Exchange
    # nodes / 8 scans in the r10-before plan). Materializing the two
    # result rows once collapses the fan-out to metadata.
    both = pin(stored.unionByName(srt))
    sa = both.filter(F.col("layout") == "stored").select(
        F.col("avg_depth_micro").alias("sa")
    )
    ba = both.filter(F.col("layout") == "sorted_by_shipdate").select(
        F.col("avg_depth_micro").alias("ba")
    )
    return (
        both.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(ba))
        .select(
            "layout",
            "n_blocks",
            "avg_depth_micro",
            "max_depth",
            (F.col("sa") >= 2 * F.col("ba")).alias(
                "recommend_recluster"
            ),
        )
        .orderBy("layout")
    )
