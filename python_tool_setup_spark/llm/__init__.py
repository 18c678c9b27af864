"""LLM-data-pipeline operators (SURVEY.md §2.5, driver north-star):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
similarity search (exact + LSH + IVF), text analysis, multimodal
column plumbing."""

from python_tool_setup_spark.llm.text import (
    tokenize,
    text_stats,
    language_id,
    token_count_bpeish,
    fingerprint_minhash,
)
from python_tool_setup_spark.llm.dedup import (
    exact_dedup,
    content_hash,
    shingles,
    minhash_signature,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
    ngram_jaccard_pairs,
)
from python_tool_setup_spark.llm.similarity import (
    cosine_topk,
    ann_lsh_topk,
    embedding_neardup_pairs,
)

__all__ = [
    "tokenize",
    "text_stats",
    "language_id",
    "token_count_bpeish",
    "fingerprint_minhash",
    "exact_dedup",
    "content_hash",
    "shingles",
    "minhash_signature",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "ann_lsh_topk",
    "embedding_neardup_pairs",
]
