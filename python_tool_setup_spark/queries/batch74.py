"""Round-5 gates, batch 74: cohort retention triangle (q352 — the
weekly cohort x age retention matrix every growth dashboard opens
with; the 2-D generalization of q330's LTV curve) and grouped mean
average precision (q353 — per-group AP + corpus MAP: the per-query
version of q309's single global AP, the number retrieval evals
actually report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q352
@register(
    "q352_retention_triangle",
    """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events
    ),
    cohorted AS (
        SELECT user_id, w,
               MIN(w) OVER (PARTITION BY user_id) AS cohort
        FROM uw
    ),
    grid AS (
        SELECT cohort, date_diff('day', cohort, w) // 7 AS age,
               COUNT(DISTINCT user_id) AS n_active
        FROM cohorted GROUP BY 1, 2
    ),
    base AS (
        SELECT cohort, n_active AS cohort_size FROM grid WHERE age = 0
    )
    SELECT strftime(g.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(g.age AS BIGINT) AS age_weeks,
           CAST(g.n_active AS BIGINT) AS n_active,
           CAST(b.cohort_size AS BIGINT) AS cohort_size,
           CAST(ROUND(CAST(g.n_active AS DOUBLE)
               / CAST(b.cohort_size AS DOUBLE) * 1000000.0) AS BIGINT)
               AS retention_micro
    FROM grid g JOIN base b ON g.cohort = b.cohort
    ORDER BY cohort_week, age_weeks
    """,
    doc="Cohort retention triangle: users cohorted by first-active "
    "week, the (cohort, week-age) grid counts who came back, each "
    "cell normalized by its cohort's size (age-0 row) — the "
    "classic growth-accounting matrix whose diagonal is calendar "
    "time and whose rows are product age. Weeks via date_trunc "
    "(Monday-start on both engines), integer day-diff div 7 for "
    "age. Scale: one distinct user-week aggregate (the only "
    "data-sized shuffle), then a per-user MIN window and a "
    "metadata-sized grid — cohort count x max-age rows.",
)
def q352_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    cohorted = uw.withColumn(
        "cohort", F.min("w").over(Window.partitionBy("user_id"))
    )
    grid = cohorted.groupBy(
        "cohort",
        (F.datediff("w", "cohort") / 7).cast("long").alias("age"),
    ).agg(F.count_distinct("user_id").alias("n_active"))
    base = grid.filter(F.col("age") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return (
        grid.join(F.broadcast(base), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.col("age").cast("long").alias("age_weeks"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
                * 1000000.0
            )
            .cast("long")
            .alias("retention_micro"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


# ---------------------------------------------------------------- q353
@register(
    "q353_grouped_map",
    """
    WITH scored AS (
        SELECT lang, doc_id, n_chars AS s,
               CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    ranked AS (
        SELECT lang, y,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY s DESC, doc_id) AS k,
               SUM(y) OVER (PARTITION BY lang
                   ORDER BY s DESC, doc_id ROWS UNBOUNDED PRECEDING)
                   AS cum_pos
        FROM scored
    ),
    terms AS (
        SELECT lang,
               CAST(ROUND(CAST(cum_pos AS DOUBLE) / CAST(k AS DOUBLE)
                   * 1000000000.0) AS BIGINT) AS t
        FROM ranked WHERE y = 1
    ),
    per_lang AS (
        SELECT r.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(r.y), 0) AS BIGINT) AS n_pos,
               CAST(ROUND(CAST((SELECT SUM(t) FROM terms t
                                WHERE t.lang = r.lang) AS DOUBLE)
                   / (CAST(SUM(r.y) AS DOUBLE) * 1000.0)) AS BIGINT)
                   AS ap_micro
        FROM (SELECT lang, y FROM scored) r
        GROUP BY r.lang
    )
    SELECT lang, n_docs, n_pos, ap_micro,
           CAST((SELECT ROUND(AVG(CAST(ap_micro AS DOUBLE)))
                 FROM per_lang) AS BIGINT) AS map_micro
    FROM per_lang ORDER BY lang
    """,
    doc="Grouped mean average precision: AP per language group "
    "(rank docs by length within the group, positives = mentions "
    "'data') and the cross-group MAP — the per-query retrieval "
    "readout that q309's single global AP aggregates away; what "
    "an eval harness reports per slice before averaging. All "
    "windows are PARTITIONED by lang (per-group rank domains, no "
    "global window anywhere); per-positive precision terms "
    "nano-quantize before the per-group mean, MAP is the plain "
    "mean of the per-group micro values. Scale: one shuffle on "
    "lang; each group's ranking stays inside its partition.",
)
def q353_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        "doc_id",
        F.col("n_chars").alias("s"),
        F.when(F.col("text").contains("data"), 1).otherwise(0).alias("y"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("s").desc(), "doc_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = scored.select(
        "lang",
        "y",
        F.row_number().over(w).alias("k"),
        F.sum("y").over(wc).alias("cum_pos"),
    )
    term = F.round(
        F.col("cum_pos").cast("double") / F.col("k").cast("double") * 1e9
    ).cast("long")
    # ONE tree: per-lang doc/positive counts and the AP term sum all
    # come from the SAME grouped pass over the ranked rows (sum of
    # when(y=1, term) is NULL when a lang has no positives — exactly
    # the old left-join-miss), and the corpus-level mean AP is a
    # window average over the bounded per-lang table. The old shape
    # instantiated the scored scan twice (window branch + count
    # branch) and per_lang twice more (mapr + final crossJoin) — 4
    # documents scans for |langs|+0 metadata rows.
    per_lang = (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").alias("n_pos"),
            F.sum(F.when(F.col("y") == 1, term)).alias("sum_t"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(
                F.col("sum_t").cast("double")
                / (F.col("n_pos").cast("double") * 1000.0)
            )
            .cast("long")
            .alias("ap_micro"),
        )
    )
    # bounded-domain: per-lang table: one row per lang
    w1 = Window.partitionBy(F.lit(1))
    return per_lang.withColumn(
        "map_micro",
        F.round(F.avg(F.col("ap_micro").cast("double")).over(w1)).cast(
            "long"
        ),
    ).orderBy("lang")
