"""Text analysis operators (L4): tokenization, quality stats,
language ID, token counting, document fingerprinting.

Everything here is built-in `pyspark.sql.functions` — JVM-side,
whole-stage-codegen'd, no Python in the hot path — so a 100 TB
documents table is one scan + map, no shuffle at all (fingerprinting
included: the signature is computed per-row from the token array).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny public stopword seeds per language — enough for a deterministic
# n-gram-style heuristic; NOT a general language detector.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist"),
    "es": ("el", "los", "las", "y", "un", "una", "es"),
    "fr": ("le", "la", "les", "et", "un", "une", "est"),
    "zh": ("的", "是", "在", "了", "我"),
}
_LANG_PRIORITY = ("en", "de", "es", "fr", "zh")  # deterministic tie-break

# "BPE-ish" tokenization: words, numbers, or single punctuation marks —
# the pre-tokenizer shape most BPE vocabularies assume.
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text → array<string>."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: char/token counts, mean token
    length, punctuation ratio, stopword ratio, all-caps ratio."""
    tokens = tokenize(text_col)
    n_chars = F.length(text_col)
    n_tokens = F.size(tokens)
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return df.withColumns(
        {
            "n_chars_calc": n_chars,
            "n_tokens": n_tokens,
            # scale-first rounds: integer-count quotients are
            # bit-identical across engines, but ROUND(x, 4) resolves
            # their decimal ties differently per engine; a scale-0
            # round of the scaled double agrees on both
            "avg_token_len": F.round(
                10000
                * (
                    F.aggregate(
                        tokens, F.lit(0.0), lambda acc, t: acc + F.length(t)
                    )
                    / F.greatest(n_tokens, F.lit(1))
                )
            )
            / 10000.0,
            "punct_ratio": F.round(
                10000
                * (
                    F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
                    / F.greatest(n_chars, F.lit(1))
                )
            )
            / 10000.0,
            "stopword_ratio": F.round(
                10000
                * (
                    F.size(F.filter(tokens, lambda t: F.array_contains(en, t)))
                    / F.greatest(n_tokens, F.lit(1))
                )
            )
            / 10000.0,
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stopword-vote language ID (L4). Adds per-language
    scores and ``lang_pred`` (argmax, ties broken by fixed priority)."""
    tokens = tokenize(text_col)

    def _vote(words: tuple[str, ...]) -> Column:
        # single-arg lambda: a 2-arg lambda would receive (elem, index)
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))

    scores = {lang: _vote(words) for lang, words in STOPWORDS.items()}
    out = df.withColumns({f"score_{lang}": c for lang, c in scores.items()})
    pred = None
    for lang in reversed(_LANG_PRIORITY):
        cond = None
        for other in _LANG_PRIORITY:
            if other == lang:
                continue
            ge = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            gt = F.col(f"score_{lang}") > F.col(f"score_{other}")
            # earlier-priority langs win ties: need strict > against them
            clause = gt if _LANG_PRIORITY.index(other) < _LANG_PRIORITY.index(lang) else ge
            cond = clause if cond is None else (cond & clause)
        pred = F.when(cond, lang) if pred is None else F.when(cond, lang).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def token_count_bpeish(text: Column | str) -> Column:
    """Token count under a BPE-style pre-tokenizer regex — the cheap
    stand-in for exact tokenizer counts when sizing training corpora."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(BPEISH_PATTERN))


def fingerprint_minhash(text: Column | str, shingle_size: int = 5) -> Column:
    """Document fingerprint: min rolling-hash over word shingles
    (winnowing-style min-sampling, k=1). Equal fingerprints ⇒ documents
    very likely share a shingle; used for cheap first-pass clustering.
    Uses the engine-independent md5 hash so a DuckDB oracle can verify
    values, not just row counts."""
    from python_tool_setup_spark.llm.dedup import md5_hash32, shingles

    sh = shingles(tokenize(text), shingle_size)
    return F.array_min(F.transform(sh, md5_hash32))


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram
    language model — the classic cheap "perplexity filter" for
    pretraining data (outlier docs score high; KenLM-style n-gram
    models drop in the same way, this is the n=1 case).

    Two aggregations: (1) global token counts -> probabilities
    (vocabulary-sized, partial-aggregated map-side); (2) per-doc mean
    of -ln p over its tokens. The vocab side is broadcast — a natural-
    language vocabulary is millions of rows at worst, far under
    broadcast limits — so the exploded corpus never shuffles for the
    join; the only wide exchange is the per-doc re-aggregation."""
    from python_tool_setup_spark.operators.blockrank import pin

    # The exploded token stream feeds BOTH the vocabulary aggregate and
    # the scoring join; without the pin each consumer re-tokenizes the
    # corpus (2 scans + explodes per plan). Same exploded-stream pin
    # class as the r10 q370/q357 keeps; scale ceiling documented in
    # OPTIMIZATION_r11.md ("Pin scale note").
    toks = pin(
        df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("__tok"))
    )
    vocab = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    # total tokens as a 1-row broadcast attach (no driver round-trip)
    total = vocab.agg(F.sum("__c").alias("__n"))
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "__tok", (F.col("__c") / F.col("__n")).alias("__p")
    )
    return (
        toks.join(F.broadcast(probs), "__tok")
        .groupBy(id_col)
        .agg(
            # scale-first round: kills the per-engine ROUND(x, 6) tie
            # class. Residual (documented floor): ln() is libm-bound,
            # so row-local -ln p is only ulp-identical across engines
            # in practice, and the double AVG order differs — a value
            # landing within those ulps of a 5e-7 boundary can still
            # flip; the transcendental input makes exact-integer
            # quantization impossible.
            (F.round(1000000 * F.avg(-F.log("__p"))) / 1000000.0).alias(
                "xent"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
