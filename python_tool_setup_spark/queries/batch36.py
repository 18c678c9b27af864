"""Round-4 gates, batch 36: the pyspark.ml.feature LSH APIs — the
MLlib answer to near-dup (MinHashLSH.approxSimilarityJoin, q275) and
embedding radius search (BucketedRandomProjectionLSH, q276),
complementing this repo's SQL-native MinHash (q36) and IVF/LSH ANN
(q41/q42): same problems, the library operator surface a Spark shop
reaches for first. Both gates pin EXACT verified outputs (the LSH
stage only generates candidates; a final exact filter decides), with
planted near-identical pairs whose LSH miss probability is
negligible, so the DuckDB oracle states the exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q275
@register(
    "q275_ml_minhash_lsh",
    r"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 80
        UNION ALL
        SELECT doc_id + 100000, text || ' zz qq' FROM documents
        WHERE doc_id < 80
    ),
    shingled AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   generate_series(1, GREATEST(LEN(toks) - 4, 1)),
                   i -> array_to_string(toks[i:i+4], ' '))) AS sh
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM base)
    )
    SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(a.sh, b.sh))
                     AS DOUBLE)
                     / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))))
                   / 1000000.0 AS jaccard
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
    doc="MLlib MinHashLSH near-dup (pyspark.ml.feature — the library "
    "surface beside q36's SQL-native MinHash): shingles are "
    "HashingTF-vectorized to sparse binary vectors, MinHashLSH (fixed "
    "seed, 8 hash tables) generates candidates via "
    "approxSimilarityJoin, and an EXACT Jaccard over the original "
    "shingle sets decides — the ml distance column (1 - approximate "
    "jaccard over hashed features) is only the candidate gate, so "
    "hash collisions inside HashingTF cannot distort the output. "
    "Planted pairs sit at ~0.97 similarity: per-table collision "
    "probability ~= j for single-row bands, miss probability "
    "(1-j)^8 ~= 7e-13 (q36's argument). The oracle computes all "
    "exact >=0.5 pairs. At scale this is one fit (bounded model: "
    "8 random hash coefficients) + the banded join MLlib plans.",
)
def q275_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from python_tool_setup_spark.llm.dedup import shingles
    from python_tool_setup_spark.llm.text import tokenize

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    base = d.select("doc_id", "text").unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz qq")).alias("text"),
        )
    )
    sh = base.select(
        "doc_id", shingles(tokenize("text"), 5).alias("sh")
    ).filter(F.size("sh") > 0)
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feats)
    # distance threshold 0.6 on (1 - hashed-jaccard) over-generates
    # candidates; the exact shingle-set Jaccard below is the decider
    cand = (
        model.approxSimilarityJoin(feats, feats, 0.6, distCol="d")
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.col("datasetA.sh").alias("sh_a"),
            F.col("datasetB.sh").alias("sh_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return (
        cand.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------- q276
_BRP_EPS = 0.05  # planted perturbation L2 radius bound


@register(
    "q276_ml_brp_lsh_radius",
    f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 120
    ),
    planted AS (
        SELECT vec_id + 100000 AS vec_id,
               list_transform(v, (x, i) ->
                   x + CASE WHEN i = 1 THEN 0.01 ELSE 0.0 END) AS v
        FROM base
    ),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               SQRT(list_sum(list_transform(list_zip(a.v, b.v),
                    p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
        FROM allv a JOIN allv b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(dist, 6) AS dist
    FROM pairs WHERE dist <= {_BRP_EPS}
    """,
    doc="MLlib BucketedRandomProjectionLSH radius search (the "
    "Euclidean-LSH library operator beside q41's SQL random-"
    "hyperplane LSH and q42's IVF): every vector within L2 distance "
    f"{_BRP_EPS} of another — the radius-join formulation of "
    "near-dup embedding detection. Planted twins sit at distance "
    "0.01 (one perturbed dimension); with bucketLength 1.0 the "
    "probability a twin pair splits buckets in ALL 6 tables is "
    "~(0.01/1.0)^6 ~ 1e-12, so candidate recall is effectively "
    "exact, and the final EXACT distance filter (computed from the "
    "raw vectors, not the hashes) decides membership. The oracle "
    "states the exact radius join. The ml model is bounded metadata "
    "(6 random projection vectors); the join is the bucketed "
    "equi-join MLlib plans — no all-pairs at scale.",
)
def q276_ml_brp_lsh_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    planted = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(0.0)
        ).alias("v"),
    )
    allv = base.unionByName(planted).withColumn("fv", array_to_vector("v"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="fv",
        outputCol="hashes",
        numHashTables=6,
        bucketLength=1.0,
        seed=42,
    )
    model = lsh.fit(allv)
    cand = (
        model.approxSimilarityJoin(allv, allv, _BRP_EPS * 2, distCol="d")
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            F.col("datasetA.v").alias("va"),
            F.col("datasetB.v").alias("vb"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("va", "vb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return (
        cand.withColumn("dist", F.round(dist, 6))
        .filter(F.col("dist") <= _BRP_EPS)
        .select("id_a", "id_b", "dist")
    )


# ---------------------------------------------------------------- q277
@register(
    "q277_multi_table_publish",
    """
    WITH o AS (
        SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderstatus
    ),
    l AS (
        SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM o) AS orders_rows,
           (SELECT CAST(SUM(n) AS BIGINT) FROM l) AS lineitem_rows,
           'v1' AS pub_tag,
           TRUE AS consistent
    """,
    doc="MULTI-table ATOMIC publish (ingestion/versioned.py::"
    "publish_tables / read_published — the cross-table consistency "
    "single-table manifests cannot give): two derived tables "
    "(order-status and returnflag summaries) are snapshotted and "
    "committed under ONE root manifest, twice — publish v0 carries "
    "half-shard aggregates tagged 'v0', publish v1 restates BOTH "
    "tables over the full inputs tagged 'v1'. Readers resolve every "
    "table through the same manifest, so after v1 both tables MUST "
    "carry the same tag — a reader can never join orders@v1 to "
    "lineitem@v0 (the torn-publish anomaly per-table commits allow). "
    "The gate reads both tables back, checks the tags agree (the "
    "consistency boolean), and reports the restated row counts, "
    "which the oracle states from the raw inputs. Snapshot writes "
    "precede the root-manifest swap, so a crash mid-publish leaves "
    "invisible orphans, never a torn set — the same commit-point "
    "discipline as single-table write_version, lifted to N tables.",
)
def q277_multi_table_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.ingestion.versioned import (
        publish_tables,
        read_published,
    )
    from python_tool_setup_spark.staging import staging_dir

    root = staging_dir("pub_root_")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def summaries(shard: bool, tag: str):
        of = o.filter(F.col("o_orderkey") % 2 == 0) if shard else o
        lf = li.filter(F.col("l_orderkey") % 2 == 0) if shard else li
        return {
            "orders_summary": of.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("pub", F.lit(tag)),
            "lineitem_summary": lf.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("pub", F.lit(tag)),
        }

    v0 = publish_tables(spark, root, summaries(True, "v0"))
    v1 = publish_tables(spark, root, summaries(False, "v1"))
    assert (v0, v1) == (0, 1)
    os_ = read_published(spark, root, "orders_summary")
    ls_ = read_published(spark, root, "lineitem_summary")
    tags = os_.select("pub").unionByName(ls_.select("pub")).distinct()
    return (
        os_.agg(F.sum("n").cast("bigint").alias("orders_rows"))
        .crossJoin(
            F.broadcast(
                ls_.agg(F.sum("n").cast("bigint").alias("lineitem_rows"))
            )
        )
        .crossJoin(
            F.broadcast(
                tags.agg(
                    F.max("pub").alias("pub_tag"),
                    (F.count(F.lit(1)) == 1).alias("consistent"),
                )
            )
        )
        .select("orders_rows", "lineitem_rows", "pub_tag", "consistent")
    )


# ---------------------------------------------------------------- q278
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


@register(
    "q278_column_profile",
    """
    SELECT 'o_custkey' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS VARCHAR),
           CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    ORDER BY col
    """,
    doc="Column-profile report (the Deequ/Great-Expectations metrics "
    "pass run before trusting any new table): per column — row count, "
    "null count, exact distinct cardinality, min/max rendered as "
    "strings so heterogeneous column types share one report schema. "
    "One aggregate statement computes every column's metrics in a "
    "single pass over the table (Catalyst plans the multi-distinct "
    "via Expand — still one scan); at 100 TB the exact distincts "
    "swap for approx_count_distinct/HLL (q67/q160's accuracy-gated "
    "sketch path) while the report shape stays identical. "
    "Complements q75/q78 expectations (which ENFORCE) by MEASURING, "
    "and q88 table-level stats by going per-column.",
)
def q278_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("bigint").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        wide.select(F.explode(per_col).alias("p"))
        .select("p.*")
        .orderBy("col")
    )
