"""Round-5 gates, batch 132: run-length-encoding advisor (q475 —
the fourth member of the measured-encoding family: q460
delta-encodes sorted integers, q468 dictionary-encodes
low-cardinality strings, q473 front-codes sorted dictionaries,
q475 measures RLE runs IN STORED ORDER vs the best case after a
sort — the direct "should we sort before write?" evidence Parquet
RLE_DICTIONARY and ORC RLE both reward) and Benjamini-Hochberg FDR
control (q476 — the multiple-testing correction every per-segment
screening query needs: 25 simultaneous nation-level tests, BH
step-up at alpha=0.05, so the discovery list controls the false
discovery rate instead of ballooning with the segment count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# Columns audited for RLE in stored (o_orderkey) order. Run header
# modeled at 4 bytes (Parquet RLE length header + value offset).
_RLE_COLS = [
    ("orders.o_orderdate", "o_odate"),
    ("orders.o_orderpriority", "o_orderpriority"),
    ("orders.o_orderstatus", "o_orderstatus"),
]
_RUN_HDR = 4


def _rle_oracle_block(label: str, col: str) -> str:
    return f"""
    SELECT '{label}' AS column_name,
           CAST((SELECT COUNT(*) FROM ranked) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM pairs
                 WHERE p_{col} IS NULL OR {col} <> p_{col}) AS BIGINT)
               AS runs_stored,
           CAST((SELECT COUNT(DISTINCT {col}) FROM ranked) AS BIGINT)
               AS runs_sorted,
           CAST((SELECT SUM(LENGTH({col})) FROM ranked) AS BIGINT)
               AS plain_bytes,
           CAST((SELECT SUM(LENGTH({col}) + {_RUN_HDR}) FROM pairs
                 WHERE p_{col} IS NULL OR {col} <> p_{col}) AS BIGINT)
               AS stored_rle_bytes,
           CAST((SELECT SUM(LENGTH(v) + {_RUN_HDR}) FROM
                 (SELECT DISTINCT {col} AS v FROM ranked)) AS BIGINT)
               AS sorted_rle_bytes,
           (SELECT SUM(LENGTH(v) + {_RUN_HDR}) FROM
                (SELECT DISTINCT {col} AS v FROM ranked)) * 2
               <= (SELECT SUM(LENGTH({col}) + {_RUN_HDR}) FROM pairs
                   WHERE p_{col} IS NULL OR {col} <> p_{col})
               AS recommend_sort
    """


@register(
    "q475_rle_encoding_advisor",
    """
    WITH ranked AS (
        SELECT CAST(o_orderdate AS VARCHAR) AS o_odate,
               o_orderpriority, o_orderstatus,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS r
        FROM orders
    ),
    pairs AS (
        SELECT cur.o_odate, cur.o_orderpriority, cur.o_orderstatus,
               prev.o_odate AS p_o_odate,
               prev.o_orderpriority AS p_o_orderpriority,
               prev.o_orderstatus AS p_o_orderstatus
        FROM ranked cur
        LEFT JOIN ranked prev ON prev.r = cur.r - 1
    )
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        _rle_oracle_block(lb, c) for lb, c in _RLE_COLS
    )
    + """
    ) ORDER BY column_name
    """,
    doc="Run-length-encoding advisor (measured RLE runs in STORED "
    "order vs the post-sort best case — the fourth measured-"
    "encoding advisor after q460 delta-ints, q468 dict-strings, "
    "q473 front-coding, and the direct sort-before-write "
    "evidence: Parquet RLE_DICTIONARY collapses a run to one "
    "value + header, so bytes = sum over runs of len+4): rows "
    "ranked by the storage key with the block-offset ranking (no "
    "unpartitioned window), adjacent rows joined on rank, a run "
    "boundary counted where the value differs from its "
    "predecessor; sorted-case runs equal the distinct count. One "
    "adjacent-rank equi-join covers all audited columns in a "
    "single pass; distinct stats are per-column map-side-combined "
    "aggregates over pruned single-column scans. recommend_sort "
    "cross-multiplies in integers at a 2x-shrink floor. Scale: "
    "the rank join is linear in rows and shuffles once on rank; "
    "everything downstream is value-domain metadata.",
)
def q475_rle_encoding_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cols = [c for _, c in _RLE_COLS]
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("o_odate"),
        "o_orderpriority",
        "o_orderstatus",
    )
    # Pin the ranked layout once: the adjacent-rank self-join references
    # it twice, and without the pin each side re-instantiates the whole
    # blockrank subtree (scan + bounds + repartition + window).
    ranked = pin(prefix_rank(o, [("o_orderkey", "asc")], alias="r"))
    prev = ranked.select(
        (F.col("r") + 1).alias("pr"),
        *[F.col(c).alias(f"p_{c}") for c in cols],
    )
    pairs = ranked.join(prev, F.col("r") == F.col("pr"), "left")
    changed = {
        c: F.col(f"p_{c}").isNull() | (F.col(c) != F.col(f"p_{c}"))
        for c in cols
    }
    # Pin the 1-row run-stats aggregate: it is fanned out once per
    # audited column below, and without the pin each fan-out arm
    # re-instantiates the rank join (39 scans / 51 Exchange nodes in
    # the r10-before plan).
    run_stats = pin(
        pairs.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(changed[c].cast("long")).alias(f"runs_{c}")
                for c in cols
            ],
            *[
                F.sum(
                    F.when(changed[c], F.length(c) + _RUN_HDR).otherwise(0)
                ).alias(f"rbytes_{c}")
                for c in cols
            ],
            *[F.sum(F.length(c)).alias(f"plain_{c}") for c in cols],
        )
    )
    # Per-column distinct stats in ONE pass: stack the audited columns
    # into a (column_name, v) relation and aggregate the distinct
    # values per column — one scan + one shuffle instead of one
    # distinct-aggregate scan per column. Same values: DISTINCT over
    # (column_name, v) is exactly the per-column distinct value set.
    stacked = o.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, v)".format(
                n=len(_RLE_COLS),
                args=", ".join(f"'{lb}', {c}" for lb, c in _RLE_COLS),
            )
        )
    )
    dstats_all = pin(
        stacked.distinct()
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias("d"),
            F.sum(F.length("v") + _RUN_HDR).alias("sorted_bytes"),
        )
    )
    out = None
    for label, c in _RLE_COLS:
        dstats = dstats_all.filter(
            F.col("column_name") == label
        ).select("d", "sorted_bytes")
        row = run_stats.crossJoin(F.broadcast(dstats)).select(
            F.lit(label).alias("column_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"runs_{c}").cast("long").alias("runs_stored"),
            F.col("d").cast("long").alias("runs_sorted"),
            F.col(f"plain_{c}").cast("long").alias("plain_bytes"),
            F.col(f"rbytes_{c}").cast("long").alias("stored_rle_bytes"),
            F.col("sorted_bytes").cast("long").alias("sorted_rle_bytes"),
            (F.col("sorted_bytes") * 2 <= F.col(f"rbytes_{c}")).alias(
                "recommend_sort"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


# ---------------------------------------------------------------- q476
_BH_ALPHA_PPM = 50000  # alpha = 0.05 as parts-per-million
_BH_M = 25  # number of simultaneous nation-level tests

# Abramowitz-Stegun 26.2.17 upper-tail normal approximation (|eps| <
# 7.5e-8), written once and used verbatim by BOTH engines so the
# expression trees match; the only cross-engine-fragile primitive is
# EXP (<=1 ulp), which ROUND(p, 6) absorbs.
_P_EXPR = (
    "ROUND(2 * (EXP(-az * az / 2) / SQRT(2 * PI())) * ("
    "tt * (0.319381530 + tt * (-0.356563782 + tt * (1.781477937"
    " + tt * (-1.821255978 + tt * 1.330274429))))), 6)"
)


@register(
    "q476_benjamini_hochberg_fdr",
    f"""
    WITH per_order AS (
        SELECT n.n_name,
               CAST(CAST(ROUND(100 * o.o_totalprice) AS BIGINT)
                    AS DECIMAL(38, 0)) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    grp AS (
        SELECT n_name, COUNT(*) AS n_j, SUM(cents) AS s_j,
               SUM(cents * cents) AS q_j
        FROM per_order GROUP BY n_name
    ),
    tot AS (
        SELECT COUNT(*) AS n, SUM(cents) AS s, SUM(cents * cents) AS q
        FROM per_order
    ),
    z AS (
        SELECT n_name, n_j,
               (CAST(s_j AS DOUBLE) / n_j
                - CAST(t.s - s_j AS DOUBLE) / (t.n - n_j))
               / SQRT(
                   ((CAST(q_j AS DOUBLE)
                     - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE) / n_j)
                    / (n_j - 1)) / n_j
                   + ((CAST(t.q - q_j AS DOUBLE)
                       - CAST(t.s - s_j AS DOUBLE)
                         * CAST(t.s - s_j AS DOUBLE) / (t.n - n_j))
                      / (t.n - n_j - 1)) / (t.n - n_j)
               ) AS zval
        FROM grp CROSS JOIN tot t
    ),
    p AS (
        SELECT n_name, n_j, zval, {_P_EXPR} AS p6
        FROM (SELECT *, ABS(zval) AS az,
                     1 / (1 + 0.2316419 * ABS(zval)) AS tt
              FROM z)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY p6, n_name) AS i FROM p
    ),
    kmax AS (
        SELECT MAX(CASE WHEN p6 * 1000000 * {_BH_M}
                        <= i * {_BH_ALPHA_PPM} THEN i ELSE 0 END) AS k
        FROM ranked
    )
    SELECT n_name, CAST(n_j AS BIGINT) AS n_orders,
           CAST(ROUND(zval, 4) AS DOUBLE) AS z,
           CAST(p6 AS DOUBLE) AS p_value,
           CAST(i AS BIGINT) AS p_rank,
           CAST(ROUND(i * {_BH_ALPHA_PPM} * 1e-6 / {_BH_M}, 6)
               AS DOUBLE) AS bh_threshold,
           i <= k.k AS rejected
    FROM ranked CROSS JOIN kmax k
    ORDER BY p_rank
    """,
    doc="Benjamini-Hochberg FDR control over simultaneous segment "
    "tests (25 nation-level Welch z-tests of mean order value vs "
    "the rest — the multiple-testing correction without which a "
    "per-segment screen at alpha=0.05 expects 1.25 false "
    "discoveries from noise alone): per-group sufficient stats "
    "(count / HUGEINT-exact cent sums / sums of squares) plus one "
    "broadcast global total give every leave-one-group-out Welch "
    "z in closed form (the q467 jackknife trick — no rescans); "
    "two-sided p-values via the Abramowitz-Stegun 26.2.17 normal "
    "tail (pure arithmetic + one EXP, quantized at ROUND(6) so "
    "both engines agree bit-for-bit); the BH step-up finds max i "
    "with p_(i) <= i*alpha/m by integer cross-multiplication in "
    "ppm and rejects all smaller ranks. Scale: one grouped agg + "
    "1-row broadcast; ranking runs block-offset over the GROUP "
    "domain (25 rows) — no unpartitioned window, no per-test "
    "rescan, m scales to millions of segments unchanged.",
)
def q476_benjamini_hochberg_fdr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents_col = cents(F.col("o_totalprice")).cast("decimal(38,0)")
    per_order = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .select("n_name", cents_col.alias("cents"))
    )
    grp = per_order.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_j"),
        F.sum("cents").alias("s_j"),
        F.sum(F.col("cents") * F.col("cents")).alias("q_j"),
    )
    m_j = F.col("s_j").cast("double") / F.col("n_j")
    s_r = (F.col("s") - F.col("s_j")).cast("double")
    n_r = F.col("n") - F.col("n_j")
    m_r = s_r / n_r
    v_j = (
        F.col("q_j").cast("double")
        - F.col("s_j").cast("double") * F.col("s_j").cast("double")
        / F.col("n_j")
    ) / (F.col("n_j") - 1)
    v_r = ((F.col("q") - F.col("q_j")).cast("double") - s_r * s_r / n_r) / (
        n_r - 1
    )
    # global totals as window sums over the ≤|nations|-row grp table
    # (q294 shape): the old tot aggregate re-ran the 3-table join a
    # second time (14 Exchange in the r10-before plan)
    # bounded-domain: grp table: one row per nation
    wall = Window.partitionBy(F.lit(1))
    z = grp.select(
        "*",
        F.sum("n_j").over(wall).alias("n"),
        F.sum("s_j").over(wall).alias("s"),
        F.sum("q_j").over(wall).alias("q"),
    ).select(
        "n_name",
        "n_j",
        ((m_j - m_r) / F.sqrt(v_j / F.col("n_j") + v_r / n_r)).alias(
            "zval"
        ),
    )
    p = z.select(
        "*",
        F.abs("zval").alias("az"),
        (1 / (1 + 0.2316419 * F.abs("zval"))).alias("tt"),
    ).select("n_name", "n_j", "zval", F.expr(_P_EXPR).alias("p6"))
    # Pin the ≤|nations|-row ranked p-values: kmax and the final
    # projection both re-reference them.
    ranked = pin(
        prefix_rank(p, [("p6", "asc"), ("n_name", "asc")], alias="i")
    )
    kmax = ranked.agg(
        F.max(
            F.when(
                F.col("p6") * 1000000 * _BH_M
                <= F.col("i") * _BH_ALPHA_PPM,
                F.col("i"),
            ).otherwise(0)
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "n_name",
            F.col("n_j").cast("long").alias("n_orders"),
            F.round("zval", 4).cast("double").alias("z"),
            F.col("p6").cast("double").alias("p_value"),
            F.col("i").cast("long").alias("p_rank"),
            F.round(F.col("i") * _BH_ALPHA_PPM * 1e-6 / _BH_M, 6)
            .cast("double")
            .alias("bh_threshold"),
            (F.col("i") <= F.col("k")).alias("rejected"),
        )
        .orderBy("p_rank")
    )
