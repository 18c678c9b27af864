"""Round-5 gates, batch 93: bigram-LM cross-entropy (q390 — the
add-1-smoothed bigram language model scored on the held-out split:
one Markov order up from q114/q268's unigram scorers, the cheapest
LM that notices word ORDER) and the vocabulary coverage curve
(q391 — what share of token MASS the top-k vocabulary covers at
k = 100/1000/10000: the tokenizer-sizing curve that complements
q366's Heaps growth and q370's tier mix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin, prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table

_SPLIT_SQL = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10000 < 1000 THEN 'val' ELSE 'train' END"
)
_COV_KS = [100, 1000, 10000]


# ---------------------------------------------------------------- q390
@register(
    "q390_bigram_lm_entropy",
    f"""
    WITH toks AS (
        SELECT doc_id, {_SPLIT_SQL} AS split, i, arr[i] AS w
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr
              FROM documents),
             generate_series(1, 1000) AS t(i)
        WHERE i <= len(arr) AND arr[i] <> ''
    ),
    adj AS (
        SELECT split, w AS w1,
               LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM toks
    ),
    bigrams AS (SELECT split, w1, w2 FROM adj WHERE w2 IS NOT NULL),
    tr_bi AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bigrams
        WHERE split = 'train' GROUP BY 1, 2
    ),
    tr_uni AS (
        SELECT w AS w1, COUNT(*) AS c1 FROM toks
        WHERE split = 'train' GROUP BY w
    ),
    vocab AS (SELECT COUNT(*) + 1 AS v FROM tr_uni),
    val_sc AS (
        SELECT CAST(ROUND(-1e9 * ln(
                   (COALESCE(tb.c2, 0) + 1.0)
                   / (COALESCE(tu.c1, 0) + (SELECT v FROM vocab))))
                   AS BIGINT) AS nll_nano
        FROM bigrams vb
        LEFT JOIN tr_bi tb ON tb.w1 = vb.w1 AND tb.w2 = vb.w2
        LEFT JOIN tr_uni tu ON tu.w1 = vb.w1
        WHERE vb.split = 'val'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_val_bigrams,
           CAST((SELECT v FROM vocab) AS BIGINT) AS vocab_plus_one,
           CAST(SUM(nll_nano) AS BIGINT) AS nll_nano_sum,
           CAST(ROUND(CAST(SUM(nll_nano) AS DOUBLE) / COUNT(*) / 1000.0)
               AS BIGINT) AS cross_entropy_micro
    FROM val_sc
    """,
    doc="Bigram language-model cross-entropy on the held-out split "
    "(add-1 smoothing: P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) — one "
    "Markov order above q114/q268's unigram scorers, the cheapest "
    "model that penalizes scrambled word order; the cross-entropy "
    "gap between this and the unigram number is the 'orderness' "
    "of the corpus): md5-bucket split (q222's convention), "
    "bigrams from within-doc adjacency (Spark: per-doc lead "
    "windows — partitioned; the oracle mirrors adjacency with a "
    "next-position subquery, so BOTH engines skip the same "
    "empty-token gaps), per-bigram -ln P nano-quantized before "
    "the sum. Scale: two token-domain groupBys and a hash join "
    "of val bigrams against the broadcast-able model.",
)
def q390_bigram_lm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.pipeline import train_val_test_split

    d = load_table(spark, sf_dir, "documents")
    split_docs = train_val_test_split(d, "doc_id", val_frac=0.10, test_frac=0.0)
    # The tokenization explode feeds both the unigram LM and the bigram
    # window; the bigram table feeds both the train LM and the val
    # probe; the unigram LM is read by the scoring join AND (twice) the
    # vocab scalar. Pin all three (q268 precedent: pin the train LM +
    # per-doc scores) so documents is tokenized once.
    toks = pin(
        split_docs.select(
            "doc_id",
            "split",
            F.posexplode(F.split(F.lower("text"), "[^a-z0-9]+")).alias(
                "i", "w"
            ),
        )
        .filter(F.col("w") != "")
    )
    wd = Window.partitionBy("doc_id").orderBy("i")
    bigrams = pin(
        toks.select(
            "split",
            F.col("w").alias("w1"),
            F.lead("w").over(wd).alias("w2"),
        ).filter(F.col("w2").isNotNull())
    )
    tr_bi = (
        bigrams.filter(F.col("split") == "train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    tr_uni = pin(
        toks.filter(F.col("split") == "train")
        .groupBy(F.col("w").alias("w1"))
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = tr_uni.agg((F.count(F.lit(1)) + 1).alias("v"))
    val_b = bigrams.filter(F.col("split") == "val").select("w1", "w2")
    scored = (
        val_b.join(tr_bi, ["w1", "w2"], "left")
        .join(tr_uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.round(
                F.lit(-1e9)
                * F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
            )
            .cast("long")
            .alias("nll_nano")
        )
    )
    return scored.crossJoin(F.broadcast(vocab)).agg(
        F.count(F.lit(1)).cast("long").alias("n_val_bigrams"),
        F.max("v").cast("long").alias("vocab_plus_one"),
        F.sum("nll_nano").cast("long").alias("nll_nano_sum"),
        F.round(
            F.sum("nll_nano").cast("double")
            / F.count(F.lit(1))
            / 1000.0
        )
        .cast("long")
        .alias("cross_entropy_micro"),
    )


# ---------------------------------------------------------------- q391
@register(
    "q391_vocab_coverage_curve",
    f"""
    WITH toks AS (
        SELECT tok FROM documents,
             UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
                 AS t(tok)
        WHERE tok <> ''
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
        FROM freq
    ),
    tot AS (SELECT SUM(n) AS mass, COUNT(*) AS v FROM freq),
    ks AS (
        SELECT K FROM (VALUES {", ".join(f"({k})" for k in _COV_KS)})
            AS t(K)
    )
    SELECT CAST(K AS BIGINT) AS top_k,
           CAST((SELECT v FROM tot) AS BIGINT) AS vocab_size,
           CAST((SELECT SUM(n) FROM ranked WHERE rk <= K) AS BIGINT)
               AS covered_mass,
           CAST((SELECT mass FROM tot) AS BIGINT) AS total_mass,
           CAST(ROUND(CAST((SELECT SUM(n) FROM ranked WHERE rk <= K)
                   AS DOUBLE) / (SELECT mass FROM tot) * 1000000.0)
               AS BIGINT) AS coverage_micro
    FROM ks ORDER BY top_k
    """,
    doc="Vocabulary coverage curve: the share of total token MASS "
    f"the top-k vocabulary covers at k = {_COV_KS} (the tokenizer- "
    "sizing readout: if 10k types cover 99% of mass, a bigger "
    "vocab buys almost nothing — the integral view of q301's "
    "Zipf slope, the mass complement of q366's type-growth "
    "curve): token ranks via the block-offset rank over the "
    "aggregated vocabulary domain, coverage per checkpoint as "
    "conditional sums, exact integer masses. Scale: one tokenize "
    "pass + one token groupBy; the curve is metadata.",
)
def q391_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    # Vocabulary-sized frequency table read by the rank machinery AND
    # the mass/size totals: pin it so the tokenization explode runs
    # once.
    freq = pin(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    ranked = prefix_rank(
        freq,
        [("n", "desc"), ("tok", "asc")],
        alias="rk",
    )
    tot = freq.agg(F.sum("n").alias("mass"), F.count(F.lit(1)).alias("v"))
    cov_row = ranked.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("n")).otherwise(0)).alias(
                f"c{k}"
            )
            for k in _COV_KS
        ]
    )
    curve = cov_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("top_k"),
                        F.col(f"c{k}").cast("long").alias("covered_mass"),
                    )
                    for k in _COV_KS
                ]
            )
        ).alias("s")
    ).select("s.top_k", "s.covered_mass")
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            "top_k",
            F.col("v").cast("long").alias("vocab_size"),
            "covered_mass",
            F.col("mass").cast("long").alias("total_mass"),
            F.round(
                F.col("covered_mass").cast("double")
                / F.col("mass").cast("double")
                * 1000000.0
            )
            .cast("long")
            .alias("coverage_micro"),
        )
        .orderBy("top_k")
    )
