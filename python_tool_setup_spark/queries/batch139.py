"""Round-5 gates, batch 139: last-observation-carried-forward gap
fill (q489 — the standard sparse-timeseries densification: cross
the key dimension with the date spine, then fill each hole with
the key's most recent observation; the per-key partitioned window
with IGNORE NULLS last_value is the scalable shape — millions of
small partitions, no global sort) and CUSUM change-point detection
(q490 — the classic drift detector, made distributed through its
closed form: the one-sided CUSUM recurrence S_t = max(0, S_{t-1} +
x_t - k) equals P_t - min_{j<=t} P_j for the prefix sums P of
(x - k), so a cumulative sum plus a running minimum — both ordered-
prefix aggregates — replace the sequential scan entirely).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table

# LOCF fill window: one calendar month of daily per-nation revenue.
_LOCF_LO, _LOCF_HI = "1996-03-01", "1996-03-31"


@register(
    "q489_locf_gap_fill",
    f"""
    WITH obs AS (
        SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
               SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT))
                   AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= DATE '{_LOCF_LO}'
          AND o.o_orderdate <= DATE '{_LOCF_HI}'
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT n_name, CAST(UNNEST(GENERATE_SERIES(
                   DATE '{_LOCF_LO}', DATE '{_LOCF_HI}',
                   INTERVAL 1 DAY)) AS DATE) AS d
        FROM nation
    ),
    dense AS (
        SELECT s.n_name, s.d, obs.cents,
               LAST_VALUE(obs.cents IGNORE NULLS) OVER (
                   PARTITION BY s.n_name ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_cents
        FROM spine s LEFT JOIN obs
          ON obs.n_name = s.n_name AND obs.d = s.d
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_observed,
           CAST(SUM(CASE WHEN cents IS NULL
                    AND filled_cents IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(CASE WHEN filled_cents IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_leading_holes,
           CAST(SUM(COALESCE(filled_cents, 0)) AS BIGINT)
               AS filled_sum_cents
    FROM dense GROUP BY n_name ORDER BY n_name
    """,
    doc="Last-observation-carried-forward gap fill (sparse-series "
    "densification: cross the key dimension with the date spine, "
    "LEFT JOIN the observations, and fill each hole with the "
    "key's most recent value via last_value(..., ignorenulls) "
    "over a window PARTITIONED by key — millions of independent "
    "small partitions, never a global sort; leading holes before "
    "a key's first observation stay NULL and are reported): the "
    "gate densifies one month of daily per-nation revenue and "
    "reports per nation the observed/filled/leading-hole day "
    "counts and the exact filled-series sum in cents. Scale: the "
    "spine is |keys| x |days| (metadata-sized next to the fact "
    "scan), the fill is one partitioned window, and the fact "
    "scan prunes to the window by partition filter.",
)
def q489_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    obs = (
        o.filter(
            (F.col("o_orderdate") >= F.lit(_LOCF_LO))
            & (F.col("o_orderdate") <= F.lit(_LOCF_HI))
        )
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy(
            "n_name", F.col("o_orderdate").cast("date").alias("d")
        )
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("cents")
        )
    )
    days = spark.sql(
        f"SELECT explode(sequence(DATE '{_LOCF_LO}', "
        f"DATE '{_LOCF_HI}', interval 1 day)) AS d"
    )
    spine = n.select("n_name").crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("n_name")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dense = spine.join(obs, ["n_name", "d"], "left").select(
        "n_name",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(w).alias(
            "filled_cents"
        ),
    )
    return (
        dense.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.col("cents").isNotNull().cast("long"))
            .cast("long")
            .alias("n_observed"),
            F.sum(
                (
                    F.col("cents").isNull()
                    & F.col("filled_cents").isNotNull()
                ).cast("long")
            )
            .cast("long")
            .alias("n_filled"),
            F.sum(F.col("filled_cents").isNull().cast("long"))
            .cast("long")
            .alias("n_leading_holes"),
            F.sum(F.coalesce("filled_cents", F.lit(0)))
            .cast("long")
            .alias("filled_sum_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------- q490
# CUSUM parameters: slack k = sigma/2, alarm threshold h = 4*sigma
# (the standard tuning for detecting ~1-sigma mean shifts).
@register(
    "q490_cusum_changepoint",
    f"""
    WITH m AS (
        SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
                   AS idx,
               SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS cents
        FROM orders GROUP BY 1
    ),
    suff AS (
        SELECT COUNT(*) AS n, SUM(cents) AS s,
               SUM(CAST(cents AS HUGEINT) * cents) AS q
        FROM m
    ),
    stats AS (
        SELECT CAST(ROUND(CAST(s AS DOUBLE) / n) AS BIGINT) AS mu,
               CAST(ROUND(SQRT(({dd_duck('q')}
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                   / (n - 1))) AS BIGINT) AS sigma
        FROM suff
    ),
    x AS (
        -- doubled series keeps sigma/2 integral: adj2 = 2*(x-mu) - sigma
        SELECT idx, cents,
               2 * cents - 2 * s.mu - s.sigma AS adj2,
               s.sigma AS sigma
        FROM m CROSS JOIN stats s
    ),
    p1 AS (
        SELECT idx, cents, sigma,
               SUM(adj2) OVER (ORDER BY idx) AS pre2
        FROM x
    ),
    p2 AS (
        SELECT idx, cents, sigma, pre2,
               MIN(pre2) OVER (
                   ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_min2
        FROM p1
    )
    SELECT CAST(idx AS BIGINT) AS month_idx,
           CAST(cents AS BIGINT) AS cents,
           CAST(GREATEST(pre2 - run_min2, 0) AS BIGINT)
               AS cusum_cents_x2,
           GREATEST(pre2 - run_min2, 0) > 8 * sigma AS alarm
    FROM p2 ORDER BY month_idx
    """,
    doc="CUSUM change-point detection (one-sided upward CUSUM "
    "S_t = max(0, S_(t-1) + x_t - mu - k) with slack k = sigma/2 "
    "and alarm at 4*sigma — the classic drift detector), made "
    "distributed through its closed form: S_t equals "
    "P_t - min_(j<=t) P_j for prefix sums P of the slack-adjusted "
    "series, so a cumulative sum plus a running minimum — both "
    "ordered-prefix aggregates over the MONTH domain, never the "
    "row domain — replace the sequential recurrence exactly. All "
    "arithmetic in exact integer cents (mu rounded once, sigma "
    "via IEEE-exact SQRT of an integer-derived variance); the "
    "oracle runs the identical closed form. Scale: one monthly "
    "groupBy is the only full-data pass; the prefix math runs "
    "over group-cardinality rows (the q309/q320 block-offset "
    "family handles that domain when it grows).",
)
def q490_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("idx")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    suff = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("q"),
    )
    stats = suff.select(
        F.round(F.col("s").cast("double") / F.col("n"))
        .cast("long")
        .alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.col("q").cast("double")
                    - F.col("s").cast("double")
                    * F.col("s").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            )
        )
        .cast("long")
        .alias("sigma"),
    )
    x = m.crossJoin(F.broadcast(stats)).select(
        "idx",
        "cents",
        (
            2 * F.col("cents") - 2 * F.col("mu") - F.col("sigma")
        ).alias("adj2"),
        "sigma",
    )
    # bounded-domain: idx is a calendar-month index (~tens of rows at
    # any data size) — the single task holds months, not data
    wc = Window.orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = x.select(
        "idx",
        "cents",
        "sigma",
        F.sum("adj2").over(wc).alias("pre2"),
    ).select("*", F.min("pre2").over(wc).alias("run_min2"))
    return p.select(
        F.col("idx").cast("long").alias("month_idx"),
        F.col("cents").cast("long").alias("cents"),
        F.greatest(F.col("pre2") - F.col("run_min2"), F.lit(0))
        .cast("long")
        .alias("cusum_cents_x2"),
        (
            F.greatest(F.col("pre2") - F.col("run_min2"), F.lit(0))
            > 8 * F.col("sigma")
        ).alias("alarm"),
    ).orderBy("month_idx")
