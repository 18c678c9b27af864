"""Round-4 gates, batch 57: per-group OLS trend (q319 — q301's
closed-form regression partitioned by group: the fleet of tiny
regressions ops dashboards run per segment) and a decile lift/gains
table (q320 — the campaign-targeting readout, deciles assigned with
the q309 block-offset ranking so no global window opens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_agg
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import dd_duck
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q319
@register(
    "q319_grouped_trend",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(date_diff('day', DATE '2024-01-01',
                   CAST(ts AS DATE)) AS BIGINT) AS x,
               COUNT(*) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(k AS BIGINT) AS n_days,
           CAST(ROUND(((CAST(k AS DOUBLE) * {dd_duck('sxy')}
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(k AS DOUBLE) * {dd_duck('sxx')}
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS slope_micro,
           CAST(ROUND(((CAST(sy AS DOUBLE)
               - ((CAST(k AS DOUBLE) * {dd_duck('sxy')}
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(k AS DOUBLE) * {dd_duck('sxx')}
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE))
               * 1000000.0) AS BIGINT) AS intercept_micro
    FROM s ORDER BY event_type
    """,
    doc="Per-group OLS trend — daily event counts regressed on the "
    "day index PER EVENT TYPE (q301 fits ONE global line; this is "
    "the fleet of per-segment regressions a health dashboard "
    "runs — 'which event types are growing?'): day index and "
    "count are exact integers, per-group moment sums accumulate "
    "in one (type, day) groupBy then one (type) groupBy "
    "(HUGEINT/DECIMAL products), slope and intercept derived in "
    "identical correctly-rounded double association, "
    "micro-quantized. Scale: both aggregates partial-first, "
    "output one row per group — a million groups cost the same "
    "two shuffles.",
)
def q319_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    return s.select(
        "event_type",
        F.col("k").cast("long").alias("n_days"),
        F.round(slope * 1000000.0).cast("long").alias("slope_micro"),
        F.round(((sy - slope * sx) / kd) * 1000000.0)
        .cast("long")
        .alias("intercept_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- q320
@register(
    "q320_decile_lift",
    """
    WITH scored AS (
        SELECT doc_id, n_chars AS s,
               CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    ranked AS (
        SELECT y,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS k,
               COUNT(*) OVER () AS n
        FROM scored
    ),
    deciled AS (
        SELECT y, (10 * (k - 1)) // n AS decile FROM ranked
    ),
    agg AS (
        SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos FROM deciled
        GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(n_pos) AS pt FROM agg)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
               * 1000000.0) AS BIGINT) AS rate_micro,
           CAST(ROUND((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST((SELECT pt FROM tot) AS DOUBLE)
                  / CAST((SELECT nt FROM tot) AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lift_micro,
           CAST(SUM(n_pos) OVER (ORDER BY decile
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
    FROM agg ORDER BY decile
    """,
    doc="Decile lift / gains table (the campaign-targeting readout: "
    "sort by model score, cut into population deciles, report "
    "each decile's response rate vs the base rate and the "
    "cumulative-gains curve — what q302's single AUC number "
    "unrolls into for a marketer): deciles are assigned as "
    "10*(rank-1)/n with the q309 block-offset ranking (score-"
    "histogram cumsum broadcast + per-block partitioned windows) "
    "so the Spark plan opens NO global window; counts are exact "
    "integers, rates/lift micro-quantized with one division "
    "each. The DuckDB oracle uses a plain global ROW_NUMBER — "
    "matching it re-proves the decomposition under a different "
    "consumer (ntile semantics on strict total order).",
)
def q320_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # scored feeds the histogram AND the rank join-back; hist feeds the
    # prefix machinery AND the grand total; the decile aggregate feeds
    # its own total AND the cumulative prefix. Pin all three so
    # documents is scanned once (q394 multi-pin precedent).
    scored = pin(
        d.select(
            "doc_id",
            F.col("n_chars").alias("s"),
            F.when(F.col("text").contains("data"), 1).otherwise(0).alias("y"),
        )
    )
    hist = pin(scored.groupBy("s").agg(F.count(F.lit(1)).alias("cnt")))
    offsets = prefix_agg(
        hist,
        [("s", "desc")],
        {"cnt_gt": ("sum", "cnt")},
    ).select("s", "cnt_gt")
    n_tot = hist.agg(F.sum("cnt").alias("n"))
    joined = scored.join(F.broadcast(offsets), "s").crossJoin(
        F.broadcast(n_tot)
    )
    wb = Window.partitionBy("s").orderBy("doc_id")
    ranked = joined.select(
        "y",
        (F.col("cnt_gt") + F.row_number().over(wb)).alias("k"),
        "n",
    )
    deciled = ranked.select(
        "y", F.expr("div(10 * (k - 1), n)").alias("decile")
    )
    agg = pin(
        deciled.groupBy("decile").agg(
            F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
        )
    )
    tot = agg.agg(F.sum("n").alias("nt"), F.sum("n_pos").alias("pt"))
    out = prefix_agg(
        agg.crossJoin(F.broadcast(tot)),
        [("decile", "asc")],
        {"pos_before": ("sum", "n_pos")},
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base = F.col("pt").cast("double") / F.col("nt").cast("double")
    return out.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(rate * 1000000.0).cast("long").alias("rate_micro"),
        F.round(rate / base * 1000000.0).cast("long").alias("lift_micro"),
        (F.col("pos_before") + F.col("n_pos")).cast("long").alias("cum_pos"),
    ).orderBy("decile")
