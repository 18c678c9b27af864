"""Unit tests for the batch-2 corpus/scale operators: boilerplate line
removal, edit-distance near-dup, bloom semi-join, heavy hitters,
weighted sampling, unigram LM scoring, int8 quantization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from python_tool_setup_spark.llm.cleaning import remove_boilerplate_lines
from python_tool_setup_spark.llm.dedup import edit_distance_pairs
from python_tool_setup_spark.llm.pipeline import weighted_sample
from python_tool_setup_spark.llm.similarity import quantize_int8
from python_tool_setup_spark.llm.text import unigram_logprob
from python_tool_setup_spark.operators.bloom import (
    bloom_bitmask,
    bloom_prefilter,
    bloom_semi_join,
)
from python_tool_setup_spark.operators.sketch import (
    heavy_hitters,
    misra_gries_candidates,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_lines_removed_and_order_kept(spark):
    banner = "cookie notice please accept all cookies now ok thanks bye"
    rows = [
        (1, banner + " alpha one two three four five six seven eight nine"),
        (2, banner + " beta ten eleven twelve thirteen fourteen fifteen "
            "sixteen seventeen eighteen"),
        (3, "unique doc with its own words entirely separate from others "
            "zeta yota kappa lambda mu nu xi omicron pi rho"),
    ]
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(
            _docs(spark, rows), min_docs=2, words_per_line=10
        ).collect()
    }
    # the shared banner line (first 10 words of docs 1 and 2) is gone
    assert banner not in out[1]["clean_text"]
    assert out[1]["clean_text"].startswith("alpha one")
    # unique content survives verbatim, in original order
    assert out[3]["clean_text"] == rows[2][1]
    assert out[3]["n_lines_kept"] == 2


def test_boilerplate_fully_removed_doc_drops(spark):
    b = "a b c d e f g h i j"
    out = remove_boilerplate_lines(
        _docs(spark, [(1, b), (2, b)]), min_docs=2, words_per_line=10
    )
    assert out.count() == 0


def test_edit_distance_pairs_blocked(spark):
    base = "the quick brown fox jumps over the lazy dog repeatedly today"
    df = spark.createDataFrame(
        [
            (1, base, "en", "web"),
            (2, "zzz" + base[3:], "en", "web"),  # 3-char mutation
            (3, "completely different text with other words here now", "en",
             "web"),
            (4, base, "de", "web"),  # same text, different block
        ],
        "doc_id long, text string, lang string, source string",
    )
    pairs = {
        (r["a_id"], r["b_id"]): r["edit_dist"]
        for r in edit_distance_pairs(
            df, "doc_id", max_distance=5, length_bucket=16
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 3
    # doc 3: same block, too far; doc 4: different lang block
    assert all(3 not in p and 4 not in p for p in pairs)


def test_bloom_no_false_negatives_and_prunes(spark):
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    build = spark.range(0, 5000, 50).select(F.col("id").alias("bk"))  # 100 keys
    mask = bloom_bitmask(build, "bk", num_bits=8192)
    pre = bloom_prefilter(probe, "k", mask)
    passed = {r["k"] for r in pre.collect()}
    truth = {r["bk"] for r in build.collect()}
    assert truth <= passed  # no false negatives
    assert len(passed) < 5000  # actually pruned something
    exact = bloom_semi_join(probe, build, "k", "bk")
    assert {r["k"] for r in exact.collect()} == truth


def test_heavy_hitters_exact_and_bounded(spark):
    # 3 hot keys + uniform tail
    hot = spark.range(0, 3000).select((F.col("id") % 3).alias("k"))
    tail = spark.range(0, 1000).select((F.col("id") + 100).alias("k"))
    df = hot.unionAll(tail).repartition(8)
    got = {
        (r["k"], r["cnt"]) for r in heavy_hitters(df, "k", 0.05).collect()
    }
    assert got == {(0, 1000), (1, 1000), (2, 1000)}
    # candidate set stays bounded by partitions * capacity, not key count
    cands = misra_gries_candidates(df, "k", capacity=40)
    assert cands.count() <= 8 * 40


def test_weighted_sample_deterministic_and_biased(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 200, 10000).otherwise(1).alias("w"),
    )
    a = weighted_sample(df, "doc_id", "w", 100)
    b = weighted_sample(df, "doc_id", "w", 100)
    ids_a = [r["doc_id"] for r in a.collect()]
    assert ids_a == [r["doc_id"] for r in b.collect()]  # reproducible
    assert len(ids_a) == 100
    # the 10%-of-rows heavy stratum (10000x weight) dominates the sample
    heavy = sum(1 for i in ids_a if i < 200)
    assert heavy > 80


def test_unigram_logprob_orders_rarity(spark):
    common = " ".join(["alpha beta gamma delta"] * 5)
    rare = "omega sigma theta epsilon " + " ".join(["alpha"] * 16)
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, rare)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["xent"] for r in
           unigram_logprob(df, "doc_id").collect()}
    # the doc carrying singleton tokens has higher cross-entropy
    assert out[4] > out[1]
    assert out[1] == out[2] == out[3]


def test_quantize_int8_bounds_and_error(spark):
    df = spark.createDataFrame(
        [(i, [float(i), float(100 - i), 0.5]) for i in range(101)],
        "vec_id long, embedding array<float>",
    )
    out = quantize_int8(df, "vec_id", "embedding").collect()
    assert len(out) == 101
    step = 100.0 / 255.0
    for r in out:
        vals = [int(v) for v in r["quant"].split("|")]
        assert all(0 <= v <= 255 for v in vals)
        # per-dim error <= (step/2)^2; constant dim contributes 0
        assert r["mse"] <= (step / 2) ** 2 + 1e-9
    # endpoints map to the codebook extremes
    first = {r["vec_id"]: r["quant"] for r in out}
    assert first[0].split("|")[0] == "0"
    assert first[100].split("|")[0] == "255"
