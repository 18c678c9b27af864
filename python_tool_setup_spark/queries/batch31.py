"""Round-4 gates, batch 31: row provenance / lineage through the
corpus pipeline (q256) — the verdict's "one LLM-pipeline staple with
no gate yet". Every output row of the q242-shaped corpus build carries
a provenance struct (source file from the scan's hidden ``_metadata``
column, source row id, and the ordered list of transform stages it
passed), and the gate PROVES the 1:1 trace: distinct source rows ==
output rows, every provenance path is the full stage chain, every
source file is the real input file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.llm import _docs_with_copies
from python_tool_setup_spark.tables import load_table


# ---------------------------------------------------------------- q256
@register(
    "q256_row_provenance",
    r"""
    WITH norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(
                   translate(lower(text),
                             'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ',
                             'aaaaaaceeeeiiiinooooouuuuyy'),
                   '\s+', ' ', 'g')) AS n
        FROM documents
    ),
    quality AS (SELECT * FROM norm WHERE length(n) >= 100),
    top2 AS (
        SELECT lang FROM quality
        GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 2
    ),
    kept AS (SELECT q.* FROM quality q JOIN top2 USING (lang)),
    survivors AS (
        SELECT MIN(doc_id) AS src_row, n
        FROM kept GROUP BY n
    )
    SELECT 'documents.parquet' AS src_file,
           'scan>normalize>quality>lang_gate>dedup>split' AS prov_path,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(COUNT(DISTINCT src_row) AS BIGINT) AS n_src_rows,
           COUNT(*) = COUNT(DISTINCT src_row) AS one_to_one
    FROM survivors
    """,
    doc="Row provenance through the flagship corpus build (composes "
    "q168's _metadata scan columns with q242's end-to-end pipeline): "
    "each row is stamped at the SCAN with its physical source file "
    "(_metadata.file_name) and source row id, then every transform "
    "stage appends its id to an in-row lineage array — normalize, "
    "quality gate, top-2 language gate, exact-dedup survivorship "
    "(the survivor inherits the provenance of its MIN-doc_id input "
    "row via min_by, so the trace stays 1:1 through the only "
    "many-to-one stage), md5 split. The gate aggregates the stamped "
    "rows and proves: every output row carries the FULL stage chain, "
    "every source file is the real input file, and output rows == "
    "distinct source rows (exactly-one-input-row trace). Provenance "
    "is a pure projection riding the existing plan — array_append in "
    "whole-stage codegen, min_by in the dedup shuffle already being "
    "paid — so at 100 TB lineage costs one array column, not a "
    "second pass or an external lineage store.",
)
def q256_row_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.cleaning import normalize_text

    d = load_table(spark, sf_dir, "documents")
    stamped = d.select(
        "doc_id",
        "lang",
        normalize_text("text").alias("n"),
        F.col("_metadata.file_name").alias("src_file"),
        F.array(F.lit("scan"), F.lit("normalize")).alias("prov"),
    )
    quality = stamped.filter(F.length("n") >= 100).withColumn(
        "prov", F.array_append("prov", F.lit("quality"))
    )
    top2 = (
        quality.groupBy("lang")
        .count()
        .orderBy(F.col("count").desc(), "lang")
        .limit(2)
        .select("lang")
    )
    kept = quality.join(F.broadcast(top2), "lang", "left_semi").withColumn(
        "prov", F.array_append("prov", F.lit("lang_gate"))
    )
    # The one many-to-one stage: the survivor row inherits the
    # provenance of its MIN-doc_id input row, keeping the trace 1:1.
    survivors = (
        kept.groupBy("n")
        .agg(
            F.min("doc_id").alias("src_row"),
            F.min_by("src_file", "doc_id").alias("src_file"),
            F.min_by("prov", "doc_id").alias("prov"),
        )
        .withColumn("prov", F.array_append("prov", F.lit("dedup")))
    )
    final = survivors.withColumn("prov", F.array_append("prov", F.lit("split")))
    return (
        final.groupBy(
            "src_file", F.array_join("prov", ">").alias("prov_path")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_out"),
            F.countDistinct("src_row").cast("bigint").alias("n_src_rows"),
        )
        .withColumn("one_to_one", F.col("n_out") == F.col("n_src_rows"))
    )


# ---------------------------------------------------------------- q257
_DSIR_B = 64  # hashed n-gram feature buckets
_DSIR_K = 50  # docs selected


@register(
    "q257_dsir_importance_resampling",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, tok
        FROM documents,
             UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
        WHERE tok <> ''
    ),
    bucketed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B}
                   AS b
        FROM toks
    ),
    tgt AS (
        SELECT b, COUNT(*) AS c_t FROM bucketed WHERE lang = 'en' GROUP BY b
    ),
    src AS (
        SELECT b, COUNT(*) AS c_s FROM bucketed GROUP BY b
    ),
    w AS (
        SELECT src.b,
               CAST(ROUND(1e6 * (
                   ln((COALESCE(c_t, 0) + 1.0)
                      / ((SELECT SUM(c_t) FROM tgt) + {_DSIR_B}))
                 - ln((c_s + 1.0)
                      / ((SELECT SUM(c_s) FROM src) + {_DSIR_B}))
               )) AS BIGINT) AS wt
        FROM src LEFT JOIN tgt USING (b)
    ),
    doc_scores AS (
        SELECT d.doc_id, d.lang,
               SUM(d.n * w.wt) AS score
        FROM (SELECT doc_id, lang, b, COUNT(*) AS n
              FROM bucketed GROUP BY doc_id, lang, b) d
        JOIN w USING (b)
        GROUP BY d.doc_id, d.lang
    ),
    selected AS (
        SELECT * FROM doc_scores
        ORDER BY score DESC, doc_id LIMIT {_DSIR_K}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM selected GROUP BY lang ORDER BY lang
    """,
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): documents are "
    "scored by hashed-unigram importance weights — log-ratio of a "
    "TARGET distribution (here: the corpus's English slice) to the "
    "raw SOURCE distribution over 64 md5-hashed token buckets, "
    "add-one smoothed — and the top-50 by score are selected. "
    "Engine-exact by construction: bucket ids come from the md5 "
    "convention every split gate uses, and the per-bucket log-ratios "
    "are quantized to integer micro-nats BEFORE the per-doc "
    "weighted sum, so doc scores are pure integer arithmetic "
    "(no FP summation-order divergence between engines). Plan shape "
    "at 100 TB: one explode->groupBy for per-doc bucket counts, the "
    "64-row weight table built from two bucket aggregates and "
    "broadcast to the scoring join, one top-k — no all-pairs, no "
    "driver collect; the weight table is bounded metadata exactly "
    "like a BPE merge table (q175).",
)
def q257_dsir_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % _DSIR_B
            ).alias("b"),
        )
    )
    # Bucketed token stream feeds the source AND target histograms
    # (and the per-doc join-back below): pin it so documents is
    # tokenized once.
    toks = pin(toks)
    # per-bucket target/source counts: <=64 rows each, the totals ride
    # an empty-frame window over that tiny relation (no collect)
    src = toks.groupBy("b").agg(F.count(F.lit(1)).alias("c_s"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    base = src.join(tgt, "b", "left").na.fill({"c_t": 0})
    tots = base.agg(
        F.sum("c_t").alias("t_tot"), F.sum("c_s").alias("s_tot")
    )
    weights = (
        base.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.lit(1e6)
                * (
                    F.log((F.col("c_t") + 1.0) / (F.col("t_tot") + _DSIR_B))
                    - F.log((F.col("c_s") + 1.0) / (F.col("s_tot") + _DSIR_B))
                )
            )
            .cast("long")
            .alias("wt"),
        )
    )
    doc_scores = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("n") * F.col("wt")).alias("score"))
    )
    selected = doc_scores.orderBy(F.col("score").desc(), "doc_id").limit(_DSIR_K)
    return (
        selected.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- q258
_BUDGET_TOKENS = 5000  # per-source token budget


@register(
    "q258_token_budget_assembly",
    f"""
    WITH scored AS (
        SELECT source, doc_id,
               len(string_split(trim(text), ' ')) AS toks,
               n_chars
        FROM documents
    ),
    ranked AS (
        SELECT *,
               SUM(toks) OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_toks
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_taken,
           CAST(SUM(toks) AS BIGINT) AS tokens_taken
    FROM ranked
    WHERE cum_toks <= {_BUDGET_TOKENS}
    GROUP BY source ORDER BY source
    """,
    doc="Token-budgeted corpus assembly: every source contributes its "
    "best documents (quality proxy: n_chars, doc_id tiebreak) "
    "greedily until a fixed per-source token budget is exhausted — "
    "the mixture-construction step that turns 'sample 30% web, 30% "
    "code' (q252's schedule) into an actual bounded corpus. One "
    "window (running token sum per source, deterministic total "
    "order) and a filter; all integer arithmetic, so both engines "
    "agree exactly. At 100 TB the window partitions by source — "
    "each source's ordering is its own shuffle partition set, no "
    "global sort, and the budget cutoff prunes everything past the "
    "budget before any downstream stage.",
)
def q258_token_budget_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("toks"),
        "n_chars",
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn("cum_toks", F.sum("toks").over(w))
    return (
        ranked.filter(F.col("cum_toks") <= _BUDGET_TOKENS)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_taken"),
            F.sum("toks").cast("bigint").alias("tokens_taken"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- q259
@register(
    "q259_cross_split_leakage",
    r"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 150
        UNION ALL
        SELECT doc_id + 100000, text || ' zz qq' FROM documents
        WHERE doc_id < 150
    ),
    split AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 10000 < 1000
                    THEN 'val' ELSE 'train' END AS split
        FROM base
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
    ),
    pairs AS (
        SELECT * FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(1000000 * (CAST(LEN(LIST_INTERSECT(a.sh, b.sh))
                         AS DOUBLE)
                         / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))))
                       / 1000000.0 AS jaccard
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    )
    SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
           p.jaccard
    FROM pairs p
    JOIN split sa ON p.id_a = sa.doc_id
    JOIN split sb ON p.id_b = sb.doc_id
    WHERE sa.split <> sb.split
    """,
    doc="Cross-split leakage audit (eval hygiene): after the md5 "
    "train/val assignment (q95's engine-independent convention), "
    "near-duplicate pairs that STRADDLE the split boundary are "
    "exactly the documents whose eval loss is contaminated by a "
    "training twin — the within-corpus counterpart of q164's "
    "external-benchmark contamination. Candidates come from the "
    "same MinHash-LSH banding as q36 (no all-pairs; the oracle "
    "computes ALL >=0.5 pairs exactly — planted ~0.97 similarity "
    "makes LSH misses ~1e-15), then each pair joins its two split "
    "labels and only boundary-crossing pairs survive. At 100 TB "
    "this runs as one LSH pass over the corpus plus two broadcast "
    "joins against the split assignment (a pure projection, q95), "
    "and its output feeds q95's split REPAIR: move one twin, or "
    "drop it from val.",
)
def q259_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import minhash_lsh_pairs
    from python_tool_setup_spark.llm.pipeline import train_val_test_split

    corpus = _docs_with_copies(spark, sf_dir, limit=150)
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16, shingle_size=5,
        threshold=0.5,
    )
    splits = train_val_test_split(
        corpus.select("doc_id"), "doc_id", val_frac=0.10, test_frac=0.0
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )
