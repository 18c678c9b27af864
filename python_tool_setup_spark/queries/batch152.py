"""Round-5 gates, batch 152: mutual information (q515 — the
dependence measure that catches what correlation can't: MI(X;Y) =
sum p(x,y) ln(p(x,y)/(p(x)p(y))) over the joint histogram, with
entropies and normalized MI alongside — the feature-selection /
redundancy screen for categorical columns, complementing q351
Cramér's V with an information-theoretic scale) and rank-biased
overlap (q516 — the top-k list similarity measure search teams use
to compare rankings that only agree at the top: RBO_min =
(1-p) * sum p^(d-1) * X_d / d, top-weighted so rank-1 agreement
counts most; here comparing the two half-corpora's top-50 token
rankings, the drift check for trending-token dashboards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

# per-cell MI term: n_xy * ln(N*n_xy/(n_x*n_y)), the log nano-
# quantized from exact integers BEFORE the multiply (q476 pattern).
_MI_TERM_EXPR = (
    "n_xy * CAST(ROUND(LN(CAST(n AS DOUBLE) * n_xy"
    " / (CAST(nx AS DOUBLE) * ny)) * 1000000000) AS BIGINT)"
)
_H_TERM_EXPR = (
    "c * CAST(ROUND(LN(CAST(n AS DOUBLE) / c) * 1000000000)"
    " AS BIGINT)"
)


@register(
    "q515_mutual_information",
    f"""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               COUNT(*) AS n_xy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(n_xy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, SUM(n_xy) AS ny FROM joint GROUP BY y),
    tot AS (SELECT SUM(n_xy) AS n FROM joint),
    terms AS (
        SELECT {_MI_TERM_EXPR} AS t
        FROM joint j
        JOIN mx ON mx.x = j.x JOIN my ON my.y = j.y
        CROSS JOIN tot
    ),
    hx AS (
        SELECT SUM({_H_TERM_EXPR.replace('c ', 'nx ').replace('/ c', '/ nx')}) AS s
        FROM mx CROSS JOIN tot
    ),
    hy AS (
        SELECT SUM({_H_TERM_EXPR.replace('c ', 'ny ').replace('/ c', '/ ny')}) AS s
        FROM my CROSS JOIN tot
    ),
    agg AS (
        SELECT (SELECT SUM(t) FROM terms) AS mi_s,
               (SELECT s FROM hx) AS hx_s,
               (SELECT s FROM hy) AS hy_s,
               (SELECT n FROM tot) AS n,
               (SELECT COUNT(*) FROM joint) AS cells
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(cells AS BIGINT) AS n_cells,
           CAST(ROUND(mi_s / CAST(n AS DOUBLE)) AS BIGINT)
               AS mi_nano,
           CAST(ROUND(hx_s / CAST(n AS DOUBLE)) AS BIGINT)
               AS hx_nano,
           CAST(ROUND(hy_s / CAST(n AS DOUBLE)) AS BIGINT)
               AS hy_nano,
           CAST(ROUND((mi_s / CAST(n AS DOUBLE)) * 1000000
               / SQRT((hx_s / CAST(n AS DOUBLE))
                      * (hy_s / CAST(n AS DOUBLE)))) AS BIGINT)
               AS nmi_micro,
           ROUND(mi_s / CAST(n AS DOUBLE)) >= 1000000
               AS dependent
    FROM agg
    """,
    doc="Mutual information between two categorical columns "
    "(MI(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y))) over the joint "
    "histogram — the dependence measure that catches nonlinear / "
    "non-monotone structure correlation can't; with H(X), H(Y) "
    "and NMI = MI/sqrt(HX*HY) alongside, the feature-selection "
    "redundancy screen on an information-theoretic scale): one "
    "joint groupBy (15 cells), margins re-aggregated from the "
    "joint (no second scan), every log nano-quantized from exact "
    "integer counts BEFORE the weighted sums so FP order never "
    "touches the result; verdict at 1 milli-nat. Scale: one scan "
    "+ cell-domain metadata.",
)
def q515_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    # ONE tree over the ≤15-cell contingency table (the q294 shape):
    # margins, the grand total, and one representative row per
    # distinct x / y value come from window functions, so every sum
    # (mi, hx, hy, cells) folds into a single aggregation — one
    # orders scan instead of five (22 Exchange / 10 scans in the
    # r10-before plan). Term expressions and per-term rounding are
    # unchanged, so the sums are numerically identical.
    marg = joint.select(
        "x",
        "y",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("n_xy").over(Window.partitionBy("y")).alias("ny"),
        # bounded-domain: ≤15 (priority, status) cells
        F.sum("n_xy").over(Window.partitionBy(F.lit(1))).alias("n"),
        F.row_number()
        .over(Window.partitionBy("x").orderBy("y"))
        .alias("rep_x"),
        F.row_number()
        .over(Window.partitionBy("y").orderBy("x"))
        .alias("rep_y"),
    )
    hx_t = _H_TERM_EXPR.replace("c ", "nx ").replace("/ c", "/ nx")
    hy_t = _H_TERM_EXPR.replace("c ", "ny ").replace("/ c", "/ ny")
    agg = marg.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("cells"),
        F.sum(F.expr(_MI_TERM_EXPR)).alias("mi_s"),
        F.sum(
            F.when(F.col("rep_x") == 1, F.expr(hx_t))
        ).alias("hx_s"),
        F.sum(
            F.when(F.col("rep_y") == 1, F.expr(hy_t))
        ).alias("hy_s"),
    )
    nd = F.col("n").cast("double")
    mi = F.col("mi_s") / nd
    hx = F.col("hx_s") / nd
    hy = F.col("hy_s") / nd
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("cells").cast("long").alias("n_cells"),
        F.round(mi).cast("long").alias("mi_nano"),
        F.round(hx).cast("long").alias("hx_nano"),
        F.round(hy).cast("long").alias("hy_nano"),
        F.round(mi * 1000000 / F.sqrt(hx * hy))
        .cast("long")
        .alias("nmi_micro"),
        (F.round(mi) >= 1000000).alias("dependent"),
    )


# ---------------------------------------------------------------- q516
_RBO_K = 50
_RBO_P = 0.9
# w_nano[d] = p^(d-1)/d * 1e9, d = 1..K — quantized once, inlined on
# both engines (the q479 kernel-literal pattern).
_RBO_W_NANO = [
    round(_RBO_P ** (d - 1) / d * 1_000_000_000)
    for d in range(1, _RBO_K + 1)
]


@register(
    "q516_rank_biased_overlap",
    f"""
    WITH tok AS (
        SELECT CAST(SUBSTRING(source, 4) AS INT) % 2 = 0 AS side_a,
               UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
        FROM documents
    ),
    freq AS (
        SELECT side_a, t, COUNT(*) AS c FROM tok
        WHERE LENGTH(t) > 0 GROUP BY side_a, t
    ),
    ranked AS (
        SELECT side_a, t,
               ROW_NUMBER() OVER (PARTITION BY side_a
                   ORDER BY c DESC, t) AS r
        FROM freq
    ),
    a AS (SELECT t, r AS ra FROM ranked
          WHERE side_a AND r <= {_RBO_K}),
    b AS (SELECT t, r AS rb FROM ranked
          WHERE NOT side_a AND r <= {_RBO_K}),
    m AS (
        SELECT GREATEST(a.ra, b.rb) AS entry_d
        FROM a JOIN b ON a.t = b.t
    ),
    w AS (
        SELECT * FROM (VALUES
    """
    + ",\n".join(
        f"        ({d + 1}, {w})" for d, w in enumerate(_RBO_W_NANO)
    )
    + f"""
        ) AS t(d, w_nano)
    ),
    xd AS (
        SELECT w.d, w.w_nano,
               (SELECT COUNT(*) FROM m WHERE m.entry_d <= w.d)
                   AS x_d
        FROM w
    ),
    s AS (SELECT SUM(x_d * w_nano) AS acc,
                 MAX(CASE WHEN d = {_RBO_K} THEN x_d END) AS xk
          FROM xd)
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(xk AS BIGINT) AS overlap_at_k,
           CAST(ROUND(CAST(acc AS DOUBLE) * {1 - _RBO_P} / 1000)
               AS BIGINT) AS rbo_min_ppm,
           CAST(ROUND(xk * 1000000.0 / {_RBO_K}) AS BIGINT)
               AS jaccard_at_k_ppm
    FROM s
    """,
    doc="Rank-biased overlap of two top-k rankings (RBO_min = "
    "(1-p) sum p^(d-1) X_d / d with X_d the overlap at depth d — "
    "top-weighted list similarity: rank-1 agreement counts most, "
    "which is what comparing trending-token / search rankings "
    "actually needs; plain overlap@k reported alongside for "
    "contrast): both half-corpora's token rankings come from one "
    "tokenize+count pass, top-50 per side via bounded windows "
    "over the candidate sets, each shared token enters the "
    "overlap at depth max(ra, rb), and the depth weights "
    "p^(d-1)/d are nano-quantized module constants inlined on "
    "both engines (the q479 kernel pattern) so the accumulation "
    "is exact integer arithmetic. Scale: one corpus pass; "
    "everything after is 2k sketch rows.",
)
def q516_rank_biased_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.substring("source", 4, 10).cast("int") % 2 == 0).alias(
            "side_a"
        ),
        F.explode(F.split(F.lower("text"), " ")).alias("t"),
    ).filter(F.length("t") > 0)
    freq = tok.groupBy("side_a", "t").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("side_a").orderBy(
        F.col("c").desc(), "t"
    )
    ranked = freq.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _RBO_K
    )
    a = ranked.filter("side_a").select("t", F.col("r").alias("ra"))
    b = ranked.filter(~F.col("side_a")).select(
        "t", F.col("r").alias("rb")
    )
    m = a.join(b, "t").select(
        F.greatest("ra", "rb").alias("entry_d")
    )
    wtab = spark.createDataFrame(
        list(enumerate(_RBO_W_NANO, start=1)), "d INT, w_nano BIGINT"
    )
    xd = (
        wtab.join(
            F.broadcast(m), F.col("entry_d") <= F.col("d"), "left"
        )
        .groupBy("d", "w_nano")
        .agg(F.count("entry_d").alias("x_d"))
    )
    s = xd.agg(
        F.sum(F.col("x_d") * F.col("w_nano")).alias("acc"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("x_d"))).alias(
            "xk"
        ),
    )
    return s.select(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.col("xk").cast("long").alias("overlap_at_k"),
        F.round(F.col("acc").cast("double") * (1 - _RBO_P) / 1000)
        .cast("long")
        .alias("rbo_min_ppm"),
        F.round(F.col("xk") * 1000000.0 / _RBO_K)
        .cast("long")
        .alias("jaccard_at_k_ppm"),
    )
