"""Round-4 gates, batch 45: categorical mutual information /
normalized MI (q294 — the dependence profiler beside q278's
column stats and q261's PSI drift) and reciprocal-rank fusion
(q295 — the rank-level hybrid-retrieval combiner beside q104's
score-level hybrid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q294
@register(
    "q294_mutual_information",
    """
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               COUNT(*) AS nxy
        FROM orders GROUP BY 1, 2
    ),
    marg AS (
        SELECT x, y, nxy,
               SUM(nxy) OVER (PARTITION BY x) AS nx,
               SUM(nxy) OVER (PARTITION BY y) AS ny,
               SUM(nxy) OVER () AS n
        FROM joint
    ),
    terms AS (
        SELECT x, y, nxy, nx, ny, n,
               CAST(ROUND((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(nxy * n AS DOUBLE)
                        / CAST(nx * ny AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS mi_term_nano,
               CAST(ROUND(-(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                   * ln(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS hxy_term_nano
        FROM marg
    ),
    hx AS (
        SELECT SUM(t) AS hx_nano FROM (
            SELECT CAST(ROUND(-(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                       * 1000000000.0) AS BIGINT) AS t
            FROM (SELECT x, SUM(nxy) AS nx,
                         (SELECT SUM(nxy) FROM joint) AS n
                  FROM joint GROUP BY x)
        )
    ),
    hy AS (
        SELECT SUM(t) AS hy_nano FROM (
            SELECT CAST(ROUND(-(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
                       * 1000000000.0) AS BIGINT) AS t
            FROM (SELECT y, SUM(nxy) AS ny,
                         (SELECT SUM(nxy) FROM joint) AS n
                  FROM joint GROUP BY y)
        )
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(mi_term_nano) AS BIGINT) AS mi_nano,
           CAST(SUM(hxy_term_nano) AS BIGINT) AS h_joint_nano,
           CAST((SELECT hx_nano FROM hx) AS BIGINT) AS h_x_nano,
           CAST((SELECT hy_nano FROM hy) AS BIGINT) AS h_y_nano
    FROM terms
    """,
    doc="Mutual information between two categorical columns (order "
    "priority vs status) plus the marginal and joint entropies — "
    "the dependence half of the data-profiling suite (q278 "
    "profiles columns alone, q261's PSI tracks ONE column over "
    "time; this measures association BETWEEN columns, the "
    "feature-selection / leakage-detection primitive). "
    "Engine-exact: all counts are exact integers (one groupBy on "
    "the pair, marginals via window sums over the tiny cell table "
    "— never a second scan), each p*ln(...) term is quantized to "
    "integer nano-units BEFORE summing (the q257/q261 FP posture; "
    "ln wobbles <=1 ulp across engines, rounding absorbs it). "
    "Scale: one shuffle on the pair key; the cell table is "
    "|X|x|Y| — metadata-sized for any categorical pair.",
)
def q294_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    # ONE tree over the ≤15-cell contingency table: margins, the grand
    # total, and per-axis representative flags all come from window
    # functions over the cells, so every statistic folds into a single
    # final aggregation — one orders scan instead of six (18 Exchange
    # / 6 scans in the r10-before plan). The marginal entropy terms
    # are numerically IDENTICAL to the old per-axis re-aggregation:
    # each distinct x contributes -(nx/n)·ln(nx/n) exactly once (the
    # rep_x row), with the same per-term rounding.
    marg = joint.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
        # bounded-domain: ≤15 (priority, status) cells
        F.sum("nxy")
        .over(Window.partitionBy(F.lit(1)))
        .alias("n"),
        F.row_number()
        .over(Window.partitionBy("x").orderBy("y"))
        .alias("rep_x"),
        F.row_number()
        .over(Window.partitionBy("y").orderBy("x"))
        .alias("rep_y"),
    )
    nd = F.col("n").cast("double")
    pxy = F.col("nxy").cast("double") / nd
    mi_term = F.round(
        pxy
        * F.log(
            (F.col("nxy") * F.col("n")).cast("double")
            / (F.col("nx") * F.col("ny")).cast("double")
        )
        * 1000000000.0
    ).cast("long")
    hxy_term = F.round(-pxy * F.log(pxy) * 1000000000.0).cast("long")
    px = F.col("nx").cast("double") / nd
    py = F.col("ny").cast("double") / nd
    hx_term = F.round(-px * F.log(px) * 1000000000.0).cast("long")
    hy_term = F.round(-py * F.log(py) * 1000000000.0).cast("long")
    return marg.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(mi_term).cast("long").alias("mi_nano"),
        F.sum(hxy_term).cast("long").alias("h_joint_nano"),
        F.sum(F.when(F.col("rep_x") == 1, hx_term))
        .cast("long")
        .alias("h_x_nano"),
        F.sum(F.when(F.col("rep_y") == 1, hy_term))
        .cast("long")
        .alias("h_y_nano"),
    )


# ---------------------------------------------------------------- q295
_RRF_K = 60
_TOPN = 50


@register(
    "q295_rrf_fusion",
    f"""
    WITH tf AS (
        SELECT doc_id,
               CAST((length(text) - length(replace(text, 'data', ''))) / 4
                    AS BIGINT) AS tf
        FROM documents
    ),
    rank_a AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS r
        FROM tf WHERE tf > 0
        ORDER BY tf DESC, doc_id LIMIT {_TOPN}
    ),
    rank_b AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
        FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT {_TOPN}
    ),
    fused AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               a.r AS r_a, b.r AS r_b,
               CAST(ROUND((COALESCE(1.0 / (CAST({_RRF_K} + a.r AS DOUBLE)), 0.0)
                   + COALESCE(1.0 / (CAST({_RRF_K} + b.r AS DOUBLE)), 0.0))
                   * 1000000000.0) AS BIGINT) AS rrf_nano
        FROM rank_a a FULL OUTER JOIN rank_b b USING (doc_id)
    )
    SELECT doc_id, r_a, r_b, rrf_nano FROM fused
    ORDER BY rrf_nano DESC, doc_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion of two retrievers (term-frequency "
    "relevance for 'data' and a length/recency ranker): each "
    "retriever contributes 1/(60+rank) for its top-50, documents "
    "missing from one list contribute nothing for it, and the "
    "fused top-20 is returned with both source ranks exposed — "
    "the RANK-level hybrid combiner (q104 fuses calibrated "
    "SCORES; RRF is what production search stacks use when "
    "scores aren't comparable). Engine-exact: ranks are integers "
    "with total-order tiebreaks, each 1/(k+r) is one "
    "correctly-rounded division, and the 2-term sum quantizes to "
    "nano-units. Scale: per-retriever top-N is a distributed "
    "TakeOrdered (no global sort shuffle); the fusion join touches "
    "only 2N candidate rows — driver-sized regardless of corpus.",
)
def q295_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("data"), F.lit("")))
        )
        / 4
    ).cast("long")
    cand_a = (
        d.select("doc_id", tf.alias("tf"))
        .filter(F.col("tf") > 0)
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(_TOPN)
    )
    # bounded-domain: rank over the TakeOrdered top-_TOPN (=50) rows —
    # a compile-time-constant domain, so the single window task holds
    # 50 rows at ANY scale; routing 50 rows through the blockrank
    # machinery paid two pin materializations + bounds aggregates per
    # retriever for nothing (r11 fan-out sweep).
    rank_a = cand_a.select(
        "doc_id",
        F.row_number()
        # bounded-domain: the TakeOrdered top-_TOPN (=50) rows
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("r_a"),
    )
    cand_b = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_TOPN)
    )
    # bounded-domain: same 50-row TakeOrdered candidate list as rank_a
    rank_b = cand_b.select(
        "doc_id",
        F.row_number()
        # bounded-domain: the TakeOrdered top-_TOPN (=50) rows
        .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("r_b"),
    )
    part = (
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_a")).cast("double"), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_b")).cast("double"), F.lit(0.0)
        )
    )
    fused = rank_a.join(rank_b, "doc_id", "full_outer").select(
        "doc_id",
        "r_a",
        "r_b",
        F.round(part * 1000000000.0).cast("long").alias("rrf_nano"),
    )
    return fused.orderBy(F.col("rrf_nano").desc(), "doc_id").limit(20)
