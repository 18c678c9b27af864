"""Corpus-cleaning operators: train/test contamination detection, PII
redaction, RAG chunking, repetition (boilerplate) scoring.

Standard stages of a training-data pipeline between raw ingestion and
tokenization, all built on JVM-side expressions (regexp_replace,
array ops, explode) — no Python in the row path.

Scale notes:
- contamination: content-hash equi-join — one shuffle per side on the
  256-bit hash; the eval/test side is usually tiny -> broadcast.
- redaction: per-row regexp chain fused into the scan stage; zero
  shuffles.
- chunking: sequence+explode fan-out is ~n_tokens/stride rows per doc,
  produced executor-side; no driver involvement.
- repetition: shingle explode + per-doc max/total — one shuffle on
  doc_id, candidate for partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_tool_setup_spark.llm.dedup import content_hash
from python_tool_setup_spark.llm.text import tokenize

# deliberately simple patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB): character classes + bounded repetition only
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}-\d{3}-\d{4}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
}


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    train_id: str,
    test_id: str,
) -> DataFrame:
    """Exact train/test overlap by content hash: one row per
    contaminated test doc with the matching train doc ids.

    The test side of an eval-contamination check is orders of
    magnitude smaller than the corpus — broadcast it so the 100 TB
    train side never shuffles.
    """
    t = train.select(
        F.col(train_id).alias("train_id"),
        content_hash("text").alias("__h"),
    )
    e = test.select(
        F.col(test_id).alias("test_id"),
        content_hash("text").alias("__h"),
    )
    return (
        t.join(F.broadcast(e), "__h")
        .groupBy("test_id")
        .agg(
            F.sort_array(F.collect_list("train_id")).alias("train_matches"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


def redact_pii(df: DataFrame) -> DataFrame:
    """Replace every PII pattern occurrence in ``text`` with a typed
    placeholder ``[REDACTED_<KIND>]``. A chained regexp_replace per
    pattern, fused into one projection."""
    out = F.col("text")
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[REDACTED_{kind.upper()}]")
    return df.withColumn("text", out)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the RAG /
    context-window preprocessing step): chunk i holds tokens
    [i*stride, i*stride + window). Emits (id, chunk_id, chunk_text,
    n_tokens); short documents produce exactly one chunk."""
    toks = df.select(
        F.col(id_col), tokenize("text").alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        toks.select(
            id_col,
            "__toks",
            "__n",
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice("__toks", F.col("__start") + 1, window), " "
            ).alias("chunk_text"),
            F.least(F.col("__n") - F.col("__start"), F.lit(window)).alias(
                "n_tokens"
            ),
        )
    )


def repetition_score(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Boilerplate/template-spam signal: the fraction of a document's
    word trigrams occupied by its single most-repeated trigram. Near-1.0
    ⇒ the doc is one phrase repeated; clean prose scores low."""
    ngram = 3
    toks = df.select(F.col(id_col), tokenize("text").alias("__t"))
    grams = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size("__t") - ngram, F.lit(0))
                ),
                lambda i: F.array_join(F.slice("__t", i + 1, ngram), " "),
            )
        ).alias("__g"),
    )
    per_gram = grams.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
    return per_gram.groupBy(id_col).agg(
        # scale-first round: the count quotient is bit-identical
        # across engines; ROUND(x, 6) tie resolution is not
        (
            F.round(1000000 * (F.max("__c") / F.sum("__c"))) / 1000000.0
        ).alias("max_ngram_ratio"),
        F.sum("__c").alias("n_ngrams"),
    )


def segment_word_lines(
    text_col: Column | str, words_per_line: int = 10
) -> Column:
    """Segment text into fixed-width word "lines" → array<string>.

    Real corpora segment on newlines; the fixture text is single-line,
    so the splitter is a fixed word window (pluggable — every consumer
    takes the segmented array, not raw text). Executor-side array ops
    only; no Python, no shuffle.
    """
    toks = tokenize(text_col)
    n = F.size(toks)
    n_lines = F.ceil(n / F.lit(words_per_line)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(toks, i * words_per_line + 1, words_per_line), " "
        ),
    )
    # sequence(0, -1) would count DOWN in Spark; guard empty docs
    return F.when(n > 0, lines).otherwise(F.array().cast("array<string>"))


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    words_per_line: int = 10,
) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate removal: drop every
    line that occurs verbatim in >= ``min_docs`` distinct documents
    (nav bars, cookie banners, license headers), then reassemble each
    document from its surviving lines in order.

    Scale plan (the interesting part at 100 TB):
    - line frequency = groupBy(line).count over the DISTINCT
      (line, doc) pairs — two shuffles with full partial aggregation;
      the hot boilerplate lines are exactly the skewed keys, and
      count-distinct-style pre-aggregation absorbs them map-side.
    - the boilerplate SET is small by construction (<= total_lines /
      min_docs entries, in practice tiny), so the removal join is a
      broadcast LEFT ANTI — the corpus itself never shuffles for the
      filter.
    - reassembly is the one unavoidable wide shuffle (groupBy doc).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(segment_word_lines(text_col, words_per_line)).alias(
            "__pos", "__line"
        ),
    )
    boiler = (
        lines.select("__line", id_col)
        .distinct()
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__line")
    )
    kept = lines.join(F.broadcast(boiler), "__line", "left_anti")
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos", "__line"))).alias(
                "__s"
            )
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform("__s", lambda s: s["__line"]), " "
            ).alias("clean_text"),
            F.size("__s").cast("bigint").alias("n_lines_kept"),
        )
    )
    return reassembled


# Latin-1 accented codepoints folded to ASCII; the identical pair of
# from/to strings is used by the DuckDB oracle's translate(), so the
# mapping can never diverge between engines.
ACCENT_FROM = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ"
ACCENT_TO = "aaaaaaceeeeiiiinooooouuuuyy"


def normalize_text(text_col: Column | str) -> Column:
    """Canonical text key: lowercase, fold Latin-1 accents, collapse
    runs of whitespace to one space, trim.

    Pure scan-stage JVM expressions (lower/translate/regexp_replace),
    so normalization fuses into whole-stage codegen with whatever
    projection follows — at 100 TB it adds zero extra passes.
    """
    c = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    c = F.translate(c, ACCENT_FROM, ACCENT_TO)
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalized_dedup(df: DataFrame) -> DataFrame:
    """Near-exact dedup on the canonical key: documents equal after
    :func:`normalize_text` collapse to one group. Returns one row per
    group: (survivor id = min doc_id, n_variants, norm_len), the same
    hash-groupBy shape as exact_dedup but case/space/accent-blind.
    """
    norm = df.select(
        F.col("doc_id"), normalize_text("text").alias("__norm")
    )
    return (
        norm.groupBy("__norm")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        )
        .select(
            "survivor_id",
            "n_variants",
            F.length("__norm").cast("bigint").alias("norm_len"),
        )
    )


def strip_markdown(text_col: Column | str) -> Column:
    """Markdown -> plain text as a fused JVM expression chain (no UDF):
    images and links collapse to their anchor text, ATX headers lose
    the ``#`` prefix, bold/italic star runs and inline backticks lose
    their markers. Order matters — images before links (the ``!`` form
    contains the link form), links before emphasis (anchor text may
    contain ``*``). Whole-stage-codegen regexp_replace chain, so a
    100 TB corpus cleans at scan speed; the q233 oracle replicates the
    identical automata in DuckDB for engine parity."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    out = F.regexp_replace(col, r"!\[([^\]]*)\]\([^)]*\)", r"$1")   # images
    out = F.regexp_replace(out, r"\[([^\]]*)\]\([^)]*\)", r"$1")    # links
    out = F.regexp_replace(out, r"(?m)^#{1,6}[ \t]+", "")           # headers
    out = F.regexp_replace(out, r"\*{1,3}([^*]*)\*{1,3}", r"$1")    # emphasis
    out = F.regexp_replace(out, r"`([^`]*)`", r"$1")                # code
    return out
