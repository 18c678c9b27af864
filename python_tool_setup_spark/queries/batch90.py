"""Round-5 gates, batch 90: MinHash estimator audit (q384 — the k=16
md5 minhash Jaccard ESTIMATE against the exact Jaccard on a
deterministic pair family: the measured-error evidence behind every
LSH threshold the dedup family (q36/q41) picks) and shingle-width
sensitivity (q385 — the same pairs' exact Jaccard at n = 2/3/5:
how the one knob everyone forgets moves the similarity scale).

Both gates run on the fixed doc_id < 200 slice (q173's convention)
so the audit is scale-invariant: it measures the ALGORITHM, not the
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_K_MH = 16
_SLICE = 200


def _pair_shingles_sql(n: int, alias: str) -> str:
    parts = " || ' ' || ".join(f"arr[i+{j}]" for j in range(n))
    return f"""
    {alias} AS (
        SELECT doc_id, {parts} AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents WHERE doc_id < {_SLICE}),
             generate_series(1, 1000) AS t(i)
        WHERE i + {n - 1} <= len(arr)
        GROUP BY doc_id, {parts}
    )"""


def _spark_shingles(d: DataFrame, n: int) -> DataFrame:
    # Array-local n-gram construction: the word array never leaves its
    # row, so there is NO per-doc window shuffle and NO global distinct
    # shuffle (the old posexplode + lead().over(doc window) + distinct
    # paid two exchanges per instantiation — and the q384/q385/q409/
    # q414 family instantiates this subtree up to 24x per plan, a cost
    # the r10 pin attempts could not remove because the consumers
    # prune/filter divergently). array_distinct reproduces the old
    # global distinct exactly: shingles are only ever compared within
    # a doc_id, and (doc_id, sh) dedup == per-doc set dedup.
    size = F.size("_arr")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("_arr"), i + F.lit(j) + 1) for j in range(n)]
    )
    grams = F.when(
        size >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), size - n), gram)),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.split("text", " ").alias("_arr")
    ).select("doc_id", F.explode(grams).alias("sh"))


def _pair_jaccard_minhash(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The q409/q414 audit subtree over the doc slice's 3-gram sets, for
    the pairs (da, db) of every even doc_id whose successor exists:
    ``jacc`` (da, db, j_micro) their exact Jaccard in micro units, and
    ``hashes`` (da, db, j, mh, jb, mhb) the two docs' k=_K_MH md5
    MinHash values side by side, one row per hash j (= jb)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _SLICE)
    sh = _spark_shingles(d, 3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    ids = sh.select("doc_id").distinct()
    pairs = (
        ids.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("da"), (F.col("doc_id") + 1).alias("db"))
        .join(ids.select(F.col("doc_id").alias("db")), "db")
    )
    sha = sh.select(F.col("doc_id").alias("da"), "sh")
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb"))
    inter = (
        pairs.join(sha, "da")
        .join(shb, "db")
        .where(F.col("sh") == F.col("shb"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("c"))
    )
    c0 = F.coalesce(F.col("c"), F.lit(0))
    jacc = (
        pairs.join(inter, ["da", "db"], "left")
        .join(sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("n1")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("n2")), "db")
        .select(
            "da",
            "db",
            F.round(
                c0.cast("double")
                / (F.col("n1") + F.col("n2") - c0)
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("j_micro"),
        )
    )
    mins = (
        sh.crossJoin(
            F.broadcast(spark.range(_K_MH).select(F.col("id").alias("j")))
        )
        .groupBy("doc_id", "j")
        .agg(
            F.min(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("sh")))
            ).alias("mh")
        )
    )
    hashes = (
        pairs.join(mins.select(F.col("doc_id").alias("da"), "j", "mh"), "da")
        .join(
            mins.select(
                F.col("doc_id").alias("db"),
                F.col("j").alias("jb"),
                F.col("mh").alias("mhb"),
            ),
            "db",
        )
        .where(F.col("j") == F.col("jb"))
    )
    return jacc, hashes


def _jacc_sql(sh: str) -> str:
    return f"""
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM {sh} GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS da, a.doc_id + 1 AS db
        FROM (SELECT DISTINCT doc_id FROM {sh}) a
        WHERE a.doc_id % 2 = 0
          AND EXISTS (SELECT 1 FROM {sh} b WHERE b.doc_id = a.doc_id + 1)
    ),
    inter AS (
        SELECT p.da, p.db, COUNT(*) AS c
        FROM pairs p
        JOIN {sh} x ON x.doc_id = p.da
        JOIN {sh} y ON y.doc_id = p.db AND y.sh = x.sh
        GROUP BY p.da, p.db
    ),
    jacc AS (
        SELECT p.da, p.db,
               COALESCE(i.c, 0) AS c, s1.n AS n1, s2.n AS n2,
               CAST(ROUND(CAST(COALESCE(i.c, 0) AS DOUBLE)
                   / (s1.n + s2.n - COALESCE(i.c, 0)) * 1000000.0)
                   AS BIGINT) AS j_micro
        FROM pairs p
        LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
        JOIN sizes s1 ON s1.doc_id = p.da
        JOIN sizes s2 ON s2.doc_id = p.db
    )"""


# ---------------------------------------------------------------- q384
@register(
    "q384_minhash_estimator_audit",
    f"""
    WITH {_pair_shingles_sql(3, "sh")},
    {_jacc_sql("sh")},
    mins AS (
        SELECT doc_id, j,
               MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS mh
        FROM sh, generate_series(0, {_K_MH - 1}) AS t(j)
        GROUP BY doc_id, j
    ),
    est AS (
        SELECT p.da, p.db,
               CAST(ROUND(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                   * 1000000.0 / {_K_MH}) AS BIGINT) AS est_micro
        FROM pairs p
        JOIN mins ma ON ma.doc_id = p.da
        JOIN mins mb ON mb.doc_id = p.db AND mb.j = ma.j
        GROUP BY p.da, p.db
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(AVG(CAST(j.j_micro AS DOUBLE))) AS BIGINT)
               AS mean_exact_micro,
           CAST(ROUND(AVG(CAST(e.est_micro AS DOUBLE))) AS BIGINT)
               AS mean_est_micro,
           CAST(ROUND(AVG(ABS(CAST(e.est_micro - j.j_micro AS DOUBLE))))
               AS BIGINT) AS mean_abs_err_micro,
           CAST(MAX(ABS(e.est_micro - j.j_micro)) AS BIGINT)
               AS max_abs_err_micro
    FROM jacc j JOIN est e ON j.da = e.da AND j.db = e.db
    """,
    doc=f"MinHash estimator audit: the k={_K_MH} md5 minhash Jaccard "
    "estimate (share of agreeing per-hash minima — the unbiased "
    "estimator every LSH design assumes) measured against the "
    "EXACT 3-gram Jaccard on the deterministic consecutive-id "
    "pair family of the fixed doc slice. Because hashes are "
    "md5-derandomized, both engines compute the IDENTICAL "
    "estimate — the audit's mean/max absolute error is an exact "
    "value match, not a statistical tolerance; it is the "
    "measured-error evidence behind q36's banding thresholds "
    "(expected |err| ~ sqrt(J(1-J)/k)). Scale: the audit runs on "
    "a fixed slice by design — it measures the estimator, not "
    "the corpus.",
)
def q384_minhash_estimator_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SLICE
    )
    sh = _spark_shingles(d, 3).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    docs = sh.select("doc_id").distinct()
    pairs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("da"), (F.col("doc_id") + 1).alias("db"))
        .join(docs.select(F.col("doc_id").alias("db")), "db", "left_semi")
    )
    x = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha"))
    y = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb"))
    inter = (
        pairs.join(x, "da")
        .join(y, "db")
        .filter(F.col("sha") == F.col("shb"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("n2"))
    jacc = (
        pairs.join(inter, ["da", "db"], "left")
        .na.fill({"c": 0})
        .join(F.broadcast(s1), "da")
        .join(F.broadcast(s2), "db")
        .select(
            "da",
            "db",
            F.round(
                F.col("c").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("c"))
                * 1000000.0
            )
            .cast("long")
            .alias("j_micro"),
        )
    )
    mins = (
        sh.select(
            "doc_id",
            "sh",
            F.explode(F.sequence(F.lit(0), F.lit(_K_MH - 1))).alias("j"),
        )
        .groupBy("doc_id", "j")
        .agg(
            F.min(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"), F.lit("|"), F.col("sh")
                    )
                )
            ).alias("mh")
        )
    )
    ma = mins.select(
        F.col("doc_id").alias("da"), "j", F.col("mh").alias("mha")
    )
    mb = mins.select(
        F.col("doc_id").alias("db"), "j", F.col("mh").alias("mhb")
    )
    est = (
        pairs.join(ma, "da")
        .join(mb, ["db", "j"])
        .groupBy("da", "db")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("mha") == F.col("mhb"), 1).otherwise(0)
                )
                * 1000000.0
                / _K_MH
            )
            .cast("long")
            .alias("est_micro")
        )
    )
    joined = jacc.join(est, ["da", "db"])
    err = F.abs((F.col("est_micro") - F.col("j_micro")).cast("double"))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg(F.col("j_micro").cast("double")))
        .cast("long")
        .alias("mean_exact_micro"),
        F.round(F.avg(F.col("est_micro").cast("double")))
        .cast("long")
        .alias("mean_est_micro"),
        F.round(F.avg(err)).cast("long").alias("mean_abs_err_micro"),
        F.max(F.abs(F.col("est_micro") - F.col("j_micro")))
        .cast("long")
        .alias("max_abs_err_micro"),
    )


# ---------------------------------------------------------------- q385
@register(
    "q385_shingle_width_sensitivity",
    f"""
    WITH {_pair_shingles_sql(2, "sh2")},
    {_pair_shingles_sql(3, "sh3")},
    {_pair_shingles_sql(5, "sh5")},
    j2 AS (
        WITH {_jacc_sql("sh2")}
        SELECT CAST(ROUND(AVG(CAST(j_micro AS DOUBLE))) AS BIGINT) AS m,
               COUNT(*) AS np FROM jacc
    ),
    j3 AS (
        WITH {_jacc_sql("sh3")}
        SELECT CAST(ROUND(AVG(CAST(j_micro AS DOUBLE))) AS BIGINT) AS m,
               COUNT(*) AS np FROM jacc
    ),
    j5 AS (
        WITH {_jacc_sql("sh5")}
        SELECT CAST(ROUND(AVG(CAST(j_micro AS DOUBLE))) AS BIGINT) AS m,
               COUNT(*) AS np FROM jacc
    )
    SELECT CAST(2 AS BIGINT) AS shingle_n,
           CAST((SELECT np FROM j2) AS BIGINT) AS n_pairs,
           (SELECT m FROM j2) AS mean_jaccard_micro
    UNION ALL
    SELECT 3, (SELECT np FROM j3), (SELECT m FROM j3)
    UNION ALL
    SELECT 5, (SELECT np FROM j5), (SELECT m FROM j5)
    ORDER BY shingle_n
    """,
    doc="Shingle-width sensitivity: the SAME deterministic pair "
    "family's mean exact Jaccard at n = 2, 3, 5 — wider shingles "
    "depress similarity (one edited word kills n shingles), so "
    "the threshold that means 'near-dup' at n=2 means 'almost "
    "identical' at n=5; this gate puts numbers on the knob the "
    "dedup configs (q36/q39/q333 all use n=3) quietly fixed. "
    "Monotone non-increasing in n on edit-style differences "
    "(invariant-tested). Scale: fixed-slice audit by design.",
)
def q385_shingle_width_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SLICE
    )

    def mean_jacc(n: int) -> DataFrame:
        sh = _spark_shingles(d, n)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        docs = sh.select("doc_id").distinct()
        pairs = (
            docs.filter(F.col("doc_id") % 2 == 0)
            .select(
                F.col("doc_id").alias("da"),
                (F.col("doc_id") + 1).alias("db"),
            )
            .join(docs.select(F.col("doc_id").alias("db")), "db", "left_semi")
        )
        x = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sha"))
        y = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("shb"))
        inter = (
            pairs.join(x, "da")
            .join(y, "db")
            .filter(F.col("sha") == F.col("shb"))
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        s1 = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("n1"))
        s2 = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("n2"))
        jacc = (
            pairs.join(inter, ["da", "db"], "left")
            .na.fill({"c": 0})
            .join(F.broadcast(s1), "da")
            .join(F.broadcast(s2), "db")
            .select(
                F.round(
                    F.col("c").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("c"))
                    * 1000000.0
                )
                .cast("long")
                .alias("j_micro")
            )
        )
        return jacc.agg(
            F.lit(n).cast("long").alias("shingle_n"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg(F.col("j_micro").cast("double")))
            .cast("long")
            .alias("mean_jaccard_micro"),
        )

    return (
        mean_jacc(2)
        .unionByName(mean_jacc(3))
        .unionByName(mean_jacc(5))
        .orderBy("shingle_n")
    )
