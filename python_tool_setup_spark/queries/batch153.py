"""Round-5 gates, batch 153: revenue cohort retention / NRR (q517
— the money version of the q352 user-count triangle: cohort
customers by first-order quarter, then track each cohort's revenue
in quarters 0..3 after acquisition; net revenue retention (quarter
k revenue / quarter 0 revenue) is THE SaaS health metric, and the
triangle is one groupBy over (cohort, age) after a broadcast
first-order join) and pipeline loss accounting (q518 — the
data-pipeline funnel every training-set build should publish:
rows in, rows surviving exact dedup, the quality filter, and the
language filter, with per-stage and cumulative loss ppm — the
lineage report that explains where 40% of the corpus went).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_NRR_MAX_AGE = 3


@register(
    "q517_revenue_cohort_nrr",
    f"""
    WITH first_q AS (
        SELECT o_custkey,
               MIN(YEAR(o_orderdate) * 4
                   + CAST(FLOOR((MONTH(o_orderdate) - 1) / 3.0)
                          AS BIGINT)) AS cq
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT f.cq,
               (YEAR(o.o_orderdate) * 4
                + CAST(FLOOR((MONTH(o.o_orderdate) - 1) / 3.0)
                       AS BIGINT)) - f.cq AS age,
               SUM(CAST(ROUND(100 * o.o_totalprice) AS BIGINT))
                   AS cents
        FROM orders o JOIN first_q f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    base AS (
        SELECT cq, cents AS base_cents FROM rev WHERE age = 0
    )
    SELECT r.cq AS cohort_quarter,
           CAST(r.age AS BIGINT) AS age_quarters,
           CAST(r.cents AS BIGINT) AS revenue_cents,
           CAST(ROUND(r.cents * 1000000.0 / b.base_cents)
               AS BIGINT) AS nrr_ppm
    FROM rev r JOIN base b ON b.cq = r.cq
    WHERE r.age <= {_NRR_MAX_AGE}
      AND r.cq <= (SELECT MAX(cq) FROM first_q) - {_NRR_MAX_AGE}
    ORDER BY cohort_quarter, age_quarters
    """,
    doc="Revenue cohort retention / NRR triangle (cohort customers "
    "by first-order quarter, track each cohort's revenue at ages "
    "0..3 quarters; NRR = age-k revenue / age-0 revenue is THE "
    "SaaS health metric — the money version of the q352 "
    "user-count triangle): first-order quarter from one customer "
    "aggregate (broadcast back), the triangle from one (cohort, "
    "age) groupBy in exact cents, NRR ppm against the broadcast "
    "age-0 base, cohorts truncated so every reported cohort has "
    "a full observation window (no right-censoring bias in the "
    "triangle). Scale: two aggregates + broadcast joins; the "
    "triangle is cohort x age metadata.",
)
def q517_revenue_cohort_nrr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    q = (
        F.year("o_orderdate") * 4
        + F.floor((F.month("o_orderdate") - 1) / 3.0).cast("long")
    )
    # first_q feeds the revenue join AND the max-cohort scalar; rev
    # feeds the base slice AND the final rows: pin both so orders is
    # scanned twice (the two algorithmic passes), not four times.
    first_q = pin(o.groupBy("o_custkey").agg(F.min(q).alias("cq")))
    rev = pin(
        o.join(F.broadcast(first_q), "o_custkey")
        .groupBy("cq", (q - F.col("cq")).alias("age"))
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("cents")
        )
    )
    base = rev.filter(F.col("age") == 0).select(
        "cq", F.col("cents").alias("base_cents")
    )
    max_cq = first_q.agg(F.max("cq").alias("mx"))
    return (
        rev.filter(F.col("age") <= _NRR_MAX_AGE)
        .join(F.broadcast(base), "cq")
        .crossJoin(F.broadcast(max_cq))
        .filter(F.col("cq") <= F.col("mx") - _NRR_MAX_AGE)
        .select(
            F.col("cq").alias("cohort_quarter"),
            F.col("age").cast("long").alias("age_quarters"),
            F.col("cents").cast("long").alias("revenue_cents"),
            F.round(F.col("cents") * 1000000.0 / F.col("base_cents"))
            .cast("long")
            .alias("nrr_ppm"),
        )
        .orderBy("cohort_quarter", "age_quarters")
    )


# ---------------------------------------------------------------- q518
_STAGES = [
    ("0_raw", "TRUE"),
    ("1_exact_dedup", "is_canonical"),
    ("2_quality_len", "is_canonical AND n_chars >= 150"),
    (
        "3_lang_en",
        "is_canonical AND n_chars >= 150 AND lang = 'en'",
    ),
]


@register(
    "q518_pipeline_loss_accounting",
    """
    WITH marked AS (
        SELECT d.*,
               doc_id = MIN(doc_id) OVER (PARTITION BY MD5(text))
                   AS is_canonical
        FROM documents d
    ),
    stages AS (
    """
    + "\nUNION ALL\n".join(
        f"""
        SELECT '{name}' AS stage,
               CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_rows
        FROM marked"""
        for name, cond in _STAGES
    )
    + """
    ),
    tot AS (SELECT MAX(n_rows) AS n0 FROM stages
            WHERE stage = '0_raw'),
    seq AS (
        SELECT s.stage, s.n_rows,
               LAG(s.n_rows) OVER (ORDER BY s.stage) AS prev_rows
        FROM stages s
    )
    SELECT stage, n_rows,
           CAST(COALESCE(prev_rows - n_rows, 0) AS BIGINT)
               AS dropped_here,
           CAST(ROUND(COALESCE(prev_rows - n_rows, 0) * 1000000.0
               / GREATEST(COALESCE(prev_rows, 1), 1)) AS BIGINT)
               AS stage_loss_ppm,
           CAST(ROUND(n_rows * 1000000.0 / t.n0) AS BIGINT)
               AS surviving_ppm
    FROM seq CROSS JOIN tot t
    ORDER BY stage
    """,
    doc="Pipeline loss accounting (the funnel every training-set "
    "build should publish: raw rows -> exact-dedup survivors -> "
    "quality-filter survivors -> language-filter survivors, with "
    "per-stage loss ppm and the cumulative surviving share — the "
    "lineage report that explains where the corpus went): the "
    "dedup canonical flag comes from one window partitioned by "
    "content hash (min doc id per hash — the q31 rule), and all "
    "four stage counts are conditional aggregates of ONE pass "
    "over the marked table since each stage's predicate nests "
    "the previous one; stage-to-stage deltas via a 4-row window. "
    "Scale: one content-hash shuffle (what dedup costs anyway) "
    "+ one scan; the funnel is |stages| rows.",
)
def q518_pipeline_loss_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    marked = d.withColumn(
        "is_canonical",
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    counts = marked.agg(
        *[
            F.sum(F.expr(cond).cast("long"))
            .cast("long")
            .alias(name)
            for name, cond in _STAGES
        ]
    )
    # One instantiation of the 1-row counts frame PER CONSUMER: the
    # old per-stage union re-ran the md5 dedup window over documents
    # once per stage (4 full passes for 4 output rows); the conditional
    # aggregate needs one pass per reference (tot + seq below), which
    # exchange reuse unifies when the planner reuses the identical
    # aggregate exchange.
    stages = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(name).alias("n_rows"),
                    )
                    for name, _ in _STAGES
                ]
            )
        ).alias("s")
    ).select("s.stage", "s.n_rows")
    # bounded-domain: one row per pipeline stage (fixed _STAGES list)
    w = Window.orderBy("stage")
    tot = stages.filter(F.col("stage") == "0_raw").select(
        F.col("n_rows").alias("n0")
    )
    seq = stages.withColumn(
        "prev_rows", F.lag("n_rows").over(w)
    )
    return (
        seq.crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "n_rows",
            F.coalesce(
                F.col("prev_rows") - F.col("n_rows"), F.lit(0)
            )
            .cast("long")
            .alias("dropped_here"),
            F.round(
                F.coalesce(
                    F.col("prev_rows") - F.col("n_rows"), F.lit(0)
                )
                * 1000000.0
                / F.greatest(
                    F.coalesce(F.col("prev_rows"), F.lit(1)),
                    F.lit(1),
                )
            )
            .cast("long")
            .alias("stage_loss_ppm"),
            F.round(F.col("n_rows") * 1000000.0 / F.col("n0"))
            .cast("long")
            .alias("surviving_ppm"),
        )
        .orderBy("stage")
    )
