"""Round-5 gates, batch 104: LSH band tuning (q414 — the observed
band-collision rate of the k=16 MinHash signature at every (bands,
rows) split, next to the textbook expected rate 1-(1-J^r)^b
computed from the EXACT Jaccard: the tuning table that picks q36's
banding, measured instead of assumed) and a partition-invariance
audit (q415 — the same dedup count and the same quantized money
total computed under two different partition layouts, asserted
equal: the determinism contract the whole integer-quantization FP
posture exists to guarantee, verified end-to-end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.batch90 import (
    _jacc_sql,
    _K_MH,
    _pair_jaccard_minhash,
    _pair_shingles_sql,
)
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# (bands, rows_per_band) splits of the k=16 signature
_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]


def _pow_sql(x: str, n: int) -> str:
    """x**n by repeated squaring as explicit multiplication — pow()
    is libm (last-ulp engine-dependent); products are IEEE-exact."""
    assert n in (1, 2, 4, 8, 16)
    out = x
    for _ in range(n.bit_length() - 1):
        out = f"({out} * {out})"
    return out


def _pow_col(x, n: int):
    assert n in (1, 2, 4, 8, 16)
    out = x
    for _ in range(n.bit_length() - 1):
        out = out * out
    return out


# ---------------------------------------------------------------- q414
@register(
    "q414_lsh_band_tuning",
    f"""
    WITH {_pair_shingles_sql(3, "sh")},
    {_jacc_sql("sh")},
    mins AS (
        SELECT doc_id, j,
               MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS mh
        FROM sh, generate_series(0, {_K_MH - 1}) AS t(j)
        GROUP BY doc_id, j
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _CONFIGS)})
            AS c(b, r)),
    bandhits AS (
        SELECT p.da, p.db, c.b, c.r, ma.j // c.r AS g,
               MIN(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS band_all
        FROM pairs p
        CROSS JOIN cfg c
        JOIN mins ma ON ma.doc_id = p.da
        JOIN mins mb ON mb.doc_id = p.db AND mb.j = ma.j
        GROUP BY p.da, p.db, c.b, c.r, ma.j // c.r
    ),
    collide AS (
        SELECT da, db, b, r, MAX(band_all) AS hit
        FROM bandhits GROUP BY da, db, b, r
    ),
    expect AS (
        SELECT j.da, j.db, c.b, c.r,
               CAST(ROUND(1e6 * (1e0 - CASE c.b
                   WHEN 16 THEN {_pow_sql("(1e0 - yy.jr)", 16)}
                   WHEN 8 THEN {_pow_sql("(1e0 - yy.jr)", 8)}
                   WHEN 4 THEN {_pow_sql("(1e0 - yy.jr)", 4)}
                   WHEN 2 THEN {_pow_sql("(1e0 - yy.jr)", 2)}
                   END)) AS BIGINT) AS exp_micro
        FROM jacc j CROSS JOIN cfg c
        CROSS JOIN LATERAL (SELECT CASE c.r
                   WHEN 1 THEN (j.j_micro / 1e6)
                   WHEN 2 THEN {_pow_sql("(j.j_micro / 1e6)", 2)}
                   WHEN 4 THEN {_pow_sql("(j.j_micro / 1e6)", 4)}
                   WHEN 8 THEN {_pow_sql("(j.j_micro / 1e6)", 8)}
                   END AS jr) AS yy
    )
    SELECT co.b, co.r,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(co.hit) AS BIGINT) AS collided,
           CAST(SUM(ex.exp_micro) AS BIGINT) AS expected_sum_micro
    FROM collide co
    JOIN expect ex ON ex.da = co.da AND ex.db = co.db
                  AND ex.b = co.b AND ex.r = co.r
    GROUP BY co.b, co.r ORDER BY co.b DESC
    """,
    doc="LSH band-tuning table: the k=16 md5 MinHash signature "
    "split every way into (bands x rows) = (16,1)/(8,2)/(4,4)/"
    "(2,8), with the OBSERVED collision count on the "
    "deterministic pair family next to the textbook expectation "
    "1-(1-J^r)^b evaluated at each pair's EXACT Jaccard — the "
    "S-curve evidence behind q36's banding choice, measured "
    "rather than assumed (q384 audits the estimator's error; "
    "this audits the COLLISION mechanism the index actually "
    "keys on). Hashes are md5-derandomized so observed counts "
    "are engine-exact; powers are repeated-squaring products, "
    "not libm pow, so expectations micro-match too. Scale: "
    "fixed-slice audit family; per-pair work is k x |configs|.",
)
def q414_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    jacc, hashes = _pair_jaccard_minhash(spark, sf_dir)
    cfg = F.broadcast(
        spark.createDataFrame(_CONFIGS, ["b", "r"])
    )
    matches = hashes.select(
        "da",
        "db",
        "j",
        F.when(F.col("mh") == F.col("mhb"), 1).otherwise(0).alias("m"),
    )
    bandhits = (
        matches.crossJoin(cfg)
        .groupBy("da", "db", "b", "r", F.floor(F.col("j") / F.col("r")).alias("g"))
        .agg(F.min("m").alias("band_all"))
    )
    collide = bandhits.groupBy("da", "db", "b", "r").agg(
        F.max("band_all").alias("hit")
    )
    jr_case = F.when(F.col("r") == 1, F.col("jd"))
    for rr in (2, 4, 8):
        jr_case = jr_case.when(F.col("r") == rr, _pow_col(F.col("jd"), rr))
    y = F.lit(1.0) - jr_case
    yb_case = F.when(F.col("b") == 2, _pow_col(y, 2))
    for bb in (4, 8, 16):
        yb_case = yb_case.when(F.col("b") == bb, _pow_col(y, bb))
    expect = (
        jacc.withColumn("jd", F.col("j_micro") / F.lit(1e6))
        .crossJoin(cfg)
        .select(
            "da",
            "db",
            "b",
            "r",
            F.round(F.lit(1e6) * (F.lit(1.0) - yb_case))
            .cast("long")
            .alias("exp_micro"),
        )
    )
    return (
        collide.join(expect, ["da", "db", "b", "r"])
        .groupBy("b", "r")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("hit").cast("long").alias("collided"),
            F.sum("exp_micro").cast("long").alias("expected_sum_micro"),
        )
        .orderBy(F.col("b").desc())
    )


# ---------------------------------------------------------------- q415
@register(
    "q415_partition_invariance_audit",
    """
    WITH norm AS (
        SELECT DISTINCT lower(trim(text)) AS t FROM documents
    ),
    money AS (
        SELECT SUM(CAST(ROUND(100 * l_extendedprice * (1 - l_discount))
            AS BIGINT)) AS cents
        FROM lineitem
    )
    SELECT CAST((SELECT COUNT(*) FROM norm) AS BIGINT) AS n_dedup,
           -- SUM(BIGINT) is HUGEINT in DuckDB; pandas-fetch coerces
           -- HUGEINT to float64 (driver-hash divergence vs Spark's
           -- int64) — re-land on BIGINT.
           CAST((SELECT cents FROM money) AS BIGINT) AS cents_sum,
           TRUE AS layouts_agree
    """,
    doc="Partition-invariance audit: the normalized-text dedup "
    "count (q119's normalization) and the cent-quantized revenue "
    "total computed TWICE under deliberately different partition "
    "layouts (4 vs 32 shuffle partitions, different input "
    "repartitioning), asserted bit-identical in-query — the "
    "determinism contract the repo's whole integer-quantization "
    "FP posture exists to guarantee (raw double sums would FAIL "
    "this audit; quantized sums cannot). The oracle pins the "
    "values and the flag TRUE; Spark must PROVE the flag by "
    "running both layouts (q382's audit pattern). Scale: the "
    "audit doubles the scan cost of the two aggregates — paid "
    "once per certification, not per query.",
)
def q415_partition_invariance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    cents_col = cents(F.col("l_extendedprice"), 1 - F.col("l_discount"))

    def run(n_part: int):
        dd = (
            d.repartition(n_part)
            .select(F.lower(F.trim(F.col("text"))).alias("t"))
            .distinct()
            .count()
        )
        cs = (
            li.repartition(n_part)
            .agg(F.sum(cents_col).alias("c"))
            .collect()[0]["c"]
        )
        return dd, int(cs)

    a, b = run(4), run(32)
    agree = a == b
    return spark.createDataFrame(
        [(a[0], a[1], bool(agree))],
        "n_dedup long, cents_sum long, layouts_agree boolean",
    )
