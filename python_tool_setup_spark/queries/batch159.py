"""Round-5 gates, batch 159: graph distance metrics (q529 — the
shortest-path family over the MOD-97 projection graph (q465's
fixture): all-pairs BFS distances via bounded min-plus expansion,
yielding per-vertex eccentricity, harmonic centrality (the
closeness variant that handles disconnection gracefully), and
distance-from-seed — the navigation metrics PageRank (q117) and
clustering coefficients (q465) don't cover) and table profile
(q530 — the dbt/DESCRIBE-style column profile every onboarding
notebook runs first: per column its distinct count, null rate,
and min/max rendered as text; one pass, typed columns normalized
through a single casting rule so the profile is schema-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents_sql
from python_tool_setup_spark.tables import load_table

_G_MOD = 97
_BFS_ROUNDS = 6  # graph diameter bound for the expansion


@register(
    "q529_graph_distance_metrics",
    f"""
    WITH und AS (
        SELECT DISTINCT LEAST(l_orderkey % {_G_MOD},
                              l_partkey % {_G_MOD}) AS a,
               GREATEST(l_orderkey % {_G_MOD},
                        l_partkey % {_G_MOD}) AS b
        FROM lineitem
        WHERE l_orderkey % {_G_MOD} <> l_partkey % {_G_MOD}
    ),
    e AS (
        SELECT a AS u, b AS v FROM und
        UNION ALL SELECT b, a FROM und
    ),
    verts AS (SELECT DISTINCT u AS v FROM e),
    dist AS (
        WITH RECURSIVE r(src, v, d) AS (
            SELECT v, v, 0 FROM verts
            UNION
            SELECT r.src, e.v, r.d + 1
            FROM r JOIN e ON e.u = r.v
            WHERE r.d < {_BFS_ROUNDS}
        )
        SELECT src, v, MIN(d) AS d FROM r GROUP BY src, v
    )
    SELECT CAST(src AS BIGINT) AS vertex,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
           CAST(MAX(d) AS BIGINT) AS eccentricity,
           CAST(SUM(CASE WHEN d > 0
                    THEN CAST(ROUND(1000000.0 / d) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS harmonic_micro,
           CAST(MAX(CASE WHEN v = 0 THEN d END) AS BIGINT)
               AS dist_from_v0
    FROM dist GROUP BY src ORDER BY vertex
    """,
    doc="Graph distance metrics over the MOD-97 projection (q465's "
    "fixture graph): all-pairs BFS distances from a bounded "
    "min-plus frontier expansion (six rounds cover the diameter; "
    "each round is one join frontier x edges + a min re-group — "
    "the iterative-join shape PageRank q117 already uses, never "
    "a driver loop), then per vertex the eccentricity, harmonic "
    "centrality (sum of 1/d — the closeness variant that handles "
    "disconnection, with each reciprocal micro-quantized BEFORE "
    "the sum so FP order never matters), reach, and distance "
    "from vertex 0. Scale: the projection bounds the vertex set, "
    "so the distance table is |V|^2 metadata; the only full-data "
    "pass is the edge projection.",
)
def q529_graph_distance_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    und = (
        li.select(
            F.least(
                F.col("l_orderkey") % _G_MOD,
                F.col("l_partkey") % _G_MOD,
            ).alias("a"),
            F.greatest(
                F.col("l_orderkey") % _G_MOD,
                F.col("l_partkey") % _G_MOD,
            ).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    verts = e.select(F.col("u").alias("v")).distinct()
    # dist frontier expansion: bounded rounds of (dist x edges) min.
    # Iterative-lineage rule: the edge projection (the ONLY data pass)
    # is pinned once, and each round's frontier is checkpointed —
    # otherwise round k re-executes the lineitem distinct k times and
    # the union-join plan tree doubles per round.
    e2 = pin(e.select(F.col("u").alias("fv"), F.col("v").alias("nv")))
    dist = pin(verts.select(F.col("v").alias("src"), F.col("v"), F.lit(0).alias("d")))
    for _ in range(_BFS_ROUNDS):
        step = (
            dist.join(F.broadcast(e2), dist.v == e2.fv)
            .select("src", F.col("nv").alias("v"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("src", "v")
            .agg(F.min("d").alias("d"))
            # vertex-domain metadata (<= V^2 rows): cheap to pin,
            # keeps the next round's plan flat. The one lazy checkpoint
            # in the package, so not ``pin``: the rounds materialize as
            # a cascade inside the final action instead of 6 separate
            # driver-submitted jobs.
            .localCheckpoint(eager=False)
        )
    return (
        dist.groupBy(F.col("src").cast("long").alias("vertex"))
        .agg(
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reachable"),
            F.max("d").cast("long").alias("eccentricity"),
            F.sum(
                F.when(
                    F.col("d") > 0,
                    F.round(1000000.0 / F.col("d")).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("harmonic_micro"),
            F.max(F.when(F.col("v") == 0, F.col("d")))
            .cast("long")
            .alias("dist_from_v0"),
        )
        .orderBy("vertex")
    )


# ---------------------------------------------------------------- q530
# (column, engine-canonical text expression): integers pass
# through, dates normalize to DATE-text, money normalizes to exact
# cents — double/timestamp native string formats differ per engine.
_PROFILE_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "CAST(o_orderstatus AS STRING)"),
    ("o_totalprice", f"CAST({cents_sql('o_totalprice')} AS STRING)"),
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS STRING)"),
    ("o_orderpriority", "CAST(o_orderpriority AS STRING)"),
]


def _profile_block(col: str, expr: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(ROUND(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0
               END) * 1000000.0 / COUNT(*)) AS BIGINT) AS null_ppm,
           MIN(v) AS min_text,
           MAX(v) AS max_text
    FROM (SELECT {expr} AS v FROM orders)
    """


@register(
    "q530_table_profile",
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(_profile_block(c, e) for c, e in _PROFILE_COLS)
    + "\n) ORDER BY column_name",
    doc="Table profile (the dbt/DESCRIBE-style first look: per "
    "column its distinct count, null rate, and min/max — the "
    "onboarding profile every notebook runs before touching a "
    "new table): all columns normalized through ONE casting rule "
    "(text domain, so min/max compare lexicographically and "
    "identically on both engines regardless of the source type), "
    "each column profiled by a conditional aggregate; the scan "
    "is shared, the report is |columns| rows. Scale: one pass; "
    "per-column distinct counts partial-aggregate map-side.",
)
def q530_table_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = None
    for col, expr in _PROFILE_COLS:
        src = o.select(F.expr(expr).alias("v"))
        row = src.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("v").cast("long").alias("n_distinct"),
            F.round(
                F.sum(F.col("v").isNull().cast("long"))
                * 1000000.0
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("null_ppm"),
            F.min("v").alias("min_text"),
            F.max("v").alias("max_text"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")
