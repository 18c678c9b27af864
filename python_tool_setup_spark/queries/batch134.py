"""Round-5 gates, batch 134: truncated-EWMA control chart (q479 —
the standard monitoring smoother: exponentially-weighted moving
average of monthly revenue with a 12-lag truncated kernel, each
month flagged when it deviates >10% from its own smoothed level;
the truncation turns the inherently-sequential recurrence into a
bounded self-expansion that distributes — each month contributes to
at most 12 targets, so the whole chart is one explode + one
re-aggregation, no ordered scan) and join-skew salting advisor
(q480 — the measured input to the salting decision every big join
needs: per-key row counts for declared join keys, max/mean skew
ratio, hottest-key share, and the derived salt factor that would
split the hottest key into ~4x-average chunks; completes the
physical-planning advisor family: q442 broadcast, q437 shuffle
sizing, q449 partition granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# EWMA kernel alpha=0.3 truncated at 12 lags, weights micro-quantized
# ONCE here and inlined as literals on both engines (no POWER at query
# time, so no cross-engine transcendental drift at all).
_EWMA_ALPHA = 0.3
_EWMA_K = 12
_W_MICRO = [
    round(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i * 1_000_000)
    for i in range(_EWMA_K)
]
_DEV_FLAG_PPM = 100_000  # flag months deviating >10% from their EWMA

_EWMA_EXPR = (
    "CAST(ROUND(CAST(wsum AS DOUBLE) / CAST(wtot AS DOUBLE)) AS BIGINT)"
)
_DEV_EXPR = (
    "CAST(ROUND(CAST(cents - ewma_cents AS DOUBLE) * 1000000"
    " / ewma_cents) AS BIGINT)"
)


@register(
    "q479_ewma_control_chart",
    f"""
    WITH m AS (
        SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1)
                   AS idx,
               CAST(SUM(CAST(ROUND(100 * o_totalprice) AS BIGINT))
                   AS DECIMAL(38, 0)) AS cents
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT * FROM (VALUES
    """
    + ",\n".join(f"        ({i}, {w})" for i, w in enumerate(_W_MICRO))
    + f"""
        ) AS t(off, w_micro)
    ),
    contrib AS (
        SELECT m.idx + w.off AS idx, w.w_micro, m.cents
        FROM m CROSS JOIN w
    ),
    e AS (
        SELECT idx, SUM(w_micro * cents) AS wsum,
               SUM(w_micro) AS wtot, COUNT(*) AS n_lags
        FROM contrib GROUP BY idx
    ),
    j AS (
        SELECT m.idx, CAST(m.cents AS BIGINT) AS cents,
               CAST(e.n_lags AS BIGINT) AS n_lags,
               {_EWMA_EXPR} AS ewma_cents
        FROM m JOIN e USING (idx)
    )
    SELECT CAST(idx AS BIGINT) AS month_idx, n_lags, cents,
           ewma_cents, {_DEV_EXPR} AS dev_ppm,
           ABS({_DEV_EXPR}) > {_DEV_FLAG_PPM} AS flagged
    FROM j ORDER BY month_idx
    """,
    doc="Truncated-EWMA control chart (monitoring smoother: "
    "ewma_t = sum of alpha*(1-alpha)^i * x_(t-i) over the last 12 "
    "months, renormalized by the present-lag weight mass, months "
    "flagged at >10% deviation from their own smoothed level). "
    "The EWMA recurrence is sequential; the 12-lag truncation "
    "makes it distributable: weights are micro-quantized module "
    "constants (no query-time POWER), each month's aggregate "
    "explodes to its <=12 target months (a 12-way broadcast cross "
    "join of the tiny month table), and one re-aggregation per "
    "target month yields the weighted sum — exact DECIMAL(38) "
    "integer arithmetic until the single final division. Scale: "
    "the only full-data pass is the monthly groupBy; everything "
    "after is month-domain metadata, and the kernel length bounds "
    "state regardless of history length.",
)
def q479_ewma_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("idx")
    ).agg(
        F.sum(cents(F.col("o_totalprice")))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    w = spark.createDataFrame(
        list(enumerate(_W_MICRO)), "off INT, w_micro BIGINT"
    )
    contrib = m.crossJoin(F.broadcast(w)).select(
        (F.col("idx") + F.col("off")).alias("idx"),
        "w_micro",
        "cents",
    )
    e = contrib.groupBy("idx").agg(
        F.sum(F.col("w_micro") * F.col("cents")).alias("wsum"),
        F.sum("w_micro").alias("wtot"),
        F.count(F.lit(1)).alias("n_lags"),
    )
    j = m.join(e, "idx").select(
        F.col("idx"),
        F.col("cents").cast("long").alias("cents"),
        F.col("n_lags").cast("long").alias("n_lags"),
        F.expr(_EWMA_EXPR).alias("ewma_cents"),
    )
    return j.select(
        F.col("idx").cast("long").alias("month_idx"),
        "n_lags",
        "cents",
        "ewma_cents",
        F.expr(_DEV_EXPR).alias("dev_ppm"),
        (F.abs(F.expr(_DEV_EXPR)) > _DEV_FLAG_PPM).alias("flagged"),
    ).orderBy("month_idx")


# ---------------------------------------------------------------- q480
# Declared join keys to audit: (label, table, key column).
_SKEW_KEYS = [
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
]

# chain heads CAST AS DOUBLE: `int * 1000000.0 / int` is DECIMAL
# division on Spark (scale-rounded) but DOUBLE on DuckDB — latent
# q521-class half-ulp hash flake in shared expression text.
_AVG_MICRO_EXPR = (
    "CAST(ROUND(CAST(n_rows AS DOUBLE) * 1000000.0 / n_keys) AS BIGINT)"
)
_SKEW_MICRO_EXPR = (
    "CAST(ROUND(CAST(max_key_rows AS DOUBLE) * 1000000 * n_keys"
    " / n_rows) AS BIGINT)"
)
_TOP1_PPM_EXPR = (
    "CAST(ROUND(CAST(max_key_rows AS DOUBLE) * 1000000.0 / n_rows) AS BIGINT)"
)
# salt factor that would split the hottest key into ~4x-average chunks
_SALT_EXPR = (
    "CAST(GREATEST(1, CEIL(CAST(max_key_rows AS DOUBLE) * n_keys"
    " / (4.0 * n_rows))) AS BIGINT)"
)


def _skew_oracle_block(label: str, table: str, key: str) -> str:
    return f"""
    SELECT '{label}' AS key_name, n_rows, n_keys, max_key_rows,
           {_AVG_MICRO_EXPR} AS avg_rows_micro,
           {_SKEW_MICRO_EXPR} AS skew_ratio_micro,
           {_TOP1_PPM_EXPR} AS top1_share_ppm,
           {_SALT_EXPR} AS salt_factor,
           max_key_rows * n_keys >= 4 * n_rows AS recommend_salting
    FROM (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_key_rows
        FROM (SELECT COUNT(*) AS c FROM {table} GROUP BY {key})
    )
    """


@register(
    "q480_join_skew_salting_advisor",
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _skew_oracle_block(lb, t, k) for lb, t, k in _SKEW_KEYS
    )
    + "\n) ORDER BY key_name",
    doc="Join-skew salting advisor (the measured input to the "
    "salting decision: a shuffled join's slowest task is the "
    "hottest key, so per declared join key this reports row "
    "count, key count, hottest-key rows, max/mean skew ratio, "
    "hottest-key traffic share, and the salt factor that would "
    "split the hottest key into ~4x-average chunks — the exact "
    "replication factor a salted join or AQE skew split needs; "
    "completes the physical-planning advisor family with q442 "
    "broadcast, q437 shuffle sizing, q449 partition granularity). "
    "Per key: one map-side-combined groupBy count, then a 3-value "
    "aggregate; all ratios derived from exact integers through "
    "shared expression text so both engines round identically, "
    "and the recommend verdict cross-multiplies in integers. "
    "Scale: the per-key count is the same shuffle the audited "
    "join would do — run once, it prices every future join on "
    "that key; the advisor output is 4 metadata rows.",
)
def q480_join_skew_salting_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = None
    for label, table, key in _SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        counts = t.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        stats = counts.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
        )
        row = stats.select(
            F.lit(label).alias("key_name"),
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.expr(_AVG_MICRO_EXPR).alias("avg_rows_micro"),
            F.expr(_SKEW_MICRO_EXPR).alias("skew_ratio_micro"),
            F.expr(_TOP1_PPM_EXPR).alias("top1_share_ppm"),
            F.expr(_SALT_EXPR).alias("salt_factor"),
            (
                F.col("max_key_rows") * F.col("n_keys")
                >= 4 * F.col("n_rows")
            ).alias("recommend_salting"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("key_name")
