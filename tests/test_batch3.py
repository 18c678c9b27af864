"""Unit tests for the batch-3 operators: zone-map file skipping,
PageRank, BM25 retrieval, text canonicalization dedup, repeated-span
detection."""

from __future__ import annotations

import datetime
import tempfile

from pyspark.sql import functions as F

from python_tool_setup_spark.llm.cleaning import normalize_text, normalized_dedup
from python_tool_setup_spark.llm.dedup import repeated_spans
from python_tool_setup_spark.llm.search import bm25_topk
from python_tool_setup_spark.operators.graph import pagerank
from python_tool_setup_spark.operators.zonemap import build_zone_map, pruned_read


# ------------------------------------------------------------ zone map
def test_zonemap_prunes_and_matches_full_scan(spark):
    rows = [
        (i, datetime.datetime(2024, 1 + (i // 25), 1 + i % 25)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k long, d timestamp")
    base = tempfile.mkdtemp(prefix="zm_t_") + "/t"
    (
        df.withColumn("m", F.date_format("d", "yyyy-MM"))
        .repartition("m")
        .write.partitionBy("m")
        .parquet(base)
    )
    zmap = build_zone_map(spark, base, ["d"])
    assert zmap.count() == 4  # one file per month
    lo, hi = datetime.datetime(2024, 2, 1), datetime.datetime(2024, 3, 5)
    scan = pruned_read(spark, base, zmap, "d", lo, hi)
    assert scan.files_total == 4 and scan.files_read == 2
    expect = sorted(
        r.k for r in df.filter((F.col("d") >= lo) & (F.col("d") <= hi)).collect()
    )
    assert sorted(r.k for r in scan.df.collect()) == expect


def test_zonemap_all_null_file_skipped_not_crashed(spark):
    # A file whose pruning column is entirely NULL has min/max stats of
    # None; it must be skipped conservatively (no row can satisfy a
    # range predicate), never raise, and the pruned result must still
    # equal full-scan + filter.
    base = tempfile.mkdtemp(prefix="zm_n_") + "/t"
    spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    ).coalesce(1).write.parquet(base)
    spark.createDataFrame(
        [(100 + i, None) for i in range(5)], "k long, v double"
    ).coalesce(1).write.mode("append").parquet(base)
    zmap = build_zone_map(spark, base, ["v"])
    assert zmap.count() == 2
    scan = pruned_read(spark, base, zmap, "v", 2.0, 6.0)
    assert scan.files_total == 2 and scan.files_read == 1
    full = spark.read.parquet(base).filter(F.col("v").between(2.0, 6.0))
    assert sorted(r.k for r in scan.df.collect()) == sorted(
        r.k for r in full.collect()
    )


def test_zonemap_empty_range(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "k long, d timestamp"
    )
    base = tempfile.mkdtemp(prefix="zm_e_") + "/t"
    df.write.parquet(base)
    zmap = build_zone_map(spark, base, ["d"])
    scan = pruned_read(
        spark,
        base,
        zmap,
        "d",
        datetime.datetime(2030, 1, 1),
        datetime.datetime(2030, 2, 1),
    )
    assert scan.files_read == 0 and scan.df.count() == 0


# ------------------------------------------------------------ pagerank
def test_pagerank_star_hub_wins_and_sums_to_one(spark):
    # spokes 1..5 all link to hub 0; hub links back to every spoke, so
    # its mass spreads instead of concentrating on one successor
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)],
        "src long, dst long",
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert max(ranks, key=ranks.get) == 0
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_pagerank_dangling_mass_redistributed(spark):
    # 0 -> 1, 1 dangles: total mass must still be 1
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert ranks[1] > ranks[0]


# ------------------------------------------------------------ bm25
def test_bm25_ranks_matching_doc_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join join join"),
            (2, "spark scan filter"),
            (3, "pandas numpy arrow"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(1, "join")], "qid long, term string")
    out = bm25_topk(docs, q, k=2).collect()
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [1]
    # doc 3 has no query terms at all -> never scored
    assert all(r.doc_id != 3 for r in out)


def test_bm25_rare_term_outweighs_common(spark):
    docs = spark.createDataFrame(
        [(i, "common filler words here") for i in range(1, 9)]
        + [(9, "common rare")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "common"), (1, "rare")], "qid long, term string"
    )
    top = bm25_topk(docs, q, k=1).collect()[0]
    assert top.doc_id == 9


# ------------------------------------------------ canonicalization
def test_normalize_text_folds_case_space_accents(spark):
    df = spark.createDataFrame([(1, "  Héllo   WÖRLD  ")], "i long, t string")
    out = df.select(normalize_text("t").alias("n")).collect()[0].n
    assert out == "hello world"


def test_normalized_dedup_merges_variants(spark):
    df = spark.createDataFrame(
        [(1, "Grüne Tee"), (2, "grüne   tee"), (3, "black tee")],
        "doc_id long, text string",
    )
    rows = {r.survivor_id: r.n_variants for r in normalized_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


# ------------------------------------------------ repeated spans
def test_repeated_spans_finds_planted_banner(spark):
    banner = "a b c d e f g h i j k l"  # 12 tokens
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight " + banner),
            (2, "alpha beta gamma delta epsilon zeta eta theta " + banner),
            (3, "unrelated text with no duplicate content at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_spans(docs, shingle_len=8).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert r.n_dup_spans == 1
        assert r.dup_tokens == 12
        assert r.n_tokens == 20
        assert abs(r.dup_fraction - 0.6) < 1e-9


def test_repeated_spans_merges_overlapping_islands(spark):
    # two shared spans separated by a unique middle in doc 1
    s1 = "p q r s t u v w"  # 8 tokens
    s2 = "m n o aa bb cc dd ee"
    docs = spark.createDataFrame(
        [
            (1, s1 + " unique1 unique2 unique3 " + s2),
            (2, s1 + " other words entirely different here " + s2),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_spans(docs, shingle_len=8).collect()}
    assert out[1].n_dup_spans == 2
    assert out[1].dup_tokens == 16


# ------------------------------------------- temperature resampling
def test_temperature_resample_keeps_smallest_group_fully(spark):
    from python_tool_setup_spark.llm.pipeline import temperature_resample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(df, "lang", "doc_id", temperature=2.0)
    by_lang = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang["small"] == 8  # p=1 for the smallest group
    # big group downsampled roughly by sqrt(8/400) ~ 0.141
    assert 20 <= by_lang["big"] <= 100


def test_temperature_resample_t1_keeps_everything(spark):
    from python_tool_setup_spark.llm.pipeline import temperature_resample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(60)], "doc_id long, lang string"
    )
    assert temperature_resample(df, "lang", "doc_id", temperature=1.0).count() == 60


# ------------------------------------------------ sequence packing
def test_pack_sequences_boundary_map(spark):
    from python_tool_setup_spark.llm.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(1, "g", 100), (2, "g", 100), (3, "g", 100), (4, "g", 0)],
        "doc_id long, g string, tok long",
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(df, "g", "doc_id", "tok", seq_len=128).collect()
    }
    assert 4 not in rows  # zero-token rows dropped
    assert (rows[1].seq_id, rows[1].seq_offset, rows[1].end_seq_id) == (0, 0, 0)
    # doc 2 starts at 100 -> straddles seqs 0 and 1
    assert (rows[2].seq_id, rows[2].seq_offset, rows[2].end_seq_id) == (0, 100, 1)
    assert rows[2].n_seqs == 2
    assert (rows[3].seq_id, rows[3].seq_offset) == (1, 72)


def test_pack_sequences_two_level_equals_naive(spark):
    from python_tool_setup_spark.llm.pipeline import pack_sequences
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y", 1 + i % 7) for i in range(200)],
        "doc_id long, g string, tok long",
    )
    got = pack_sequences(df, "g", "doc_id", "tok", seq_len=16, chunk_size=10)
    w = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = (
        df.withColumn("s", F.coalesce(F.sum("tok").over(w), F.lit(0)))
        .select("doc_id", F.expr("s div 16").alias("seq_id"))
    )
    joined = got.select("doc_id", "seq_id").join(
        naive.withColumnRenamed("seq_id", "naive_seq"), "doc_id"
    )
    assert joined.filter(F.col("seq_id") != F.col("naive_seq")).count() == 0


# ------------------------------------------------ interval join
def test_binned_interval_join_equals_naive(spark):
    from python_tool_setup_spark.operators.asof import binned_interval_join

    pts = spark.createDataFrame([(p,) for p in range(0, 100)], "p long")
    ivs = spark.createDataFrame(
        [(1, 5, 9), (2, 8, 30), (3, 95, 120), (4, 40, 40)],
        "iid long, s long, e long",
    )
    got = (
        binned_interval_join(pts, ivs, "p", "s", "e", bin_width=7)
        .groupBy("iid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    naive = {1: 5, 2: 23, 3: 5, 4: 1}
    assert {r.iid: r.n for r in got} == naive


def test_binned_interval_join_no_duplicate_pairs(spark):
    from python_tool_setup_spark.operators.asof import binned_interval_join

    pts = spark.createDataFrame([(10,)], "p long")
    # interval spans many bins; the single matching point appears once
    ivs = spark.createDataFrame([(1, 0, 100)], "iid long, s long, e long")
    out = binned_interval_join(pts, ivs, "p", "s", "e", bin_width=3).collect()
    assert len(out) == 1


# ------------------------------------------------ global ids
def test_assign_global_ids_contiguous(spark):
    from python_tool_setup_spark.llm.pipeline import assign_global_ids

    df = spark.createDataFrame([(i * 3,) for i in range(500)], "k long")
    out = assign_global_ids(df, "k", chunk_size=37).orderBy("k").collect()
    assert [r.global_id for r in out] == list(range(500))


# ------------------------------------------------ image phash
def test_ahash_and_neardup_pairs(spark, tmp_path):
    from python_tool_setup_spark.llm.multimodal import (
        ahash64,
        image_neardup_pairs,
        read_media,
    )
    from python_tool_setup_spark.llm.png import encode_png

    base = bytes(range(60, 124))  # 64 distinct pixel values
    (tmp_path / "img_1.png").write_bytes(encode_png(8, 8, base, channels=1))
    # identical copy -> hamming 0
    (tmp_path / "img_2.png").write_bytes(encode_png(8, 8, base, channels=1))
    # totally different image
    inv = bytes(255 - b for b in base)
    (tmp_path / "img_3.png").write_bytes(encode_png(8, 8, inv, channels=1))
    hashes = ahash64(read_media(spark, str(tmp_path), glob="*.png")).select(
        F.regexp_extract("path", r"img_(\d+)\.png", 1).cast("long").alias("i"),
        "hi",
        "lo",
    )
    pairs = image_neardup_pairs(hashes, id_col="i", max_hamming=2).collect()
    assert [(r.a_id, r.b_id, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_image_neardup_blocking_complete_for_hamming_2(spark):
    import pytest

    from python_tool_setup_spark.llm.multimodal import image_neardup_pairs

    # One bit flipped in EACH 32-bit half: neither half agrees, so
    # half-equality blocking would miss this pair; the 3-band blocking
    # must find it (pigeonhole completeness for hamming <= 2).
    hi, lo = 0x12345678, 0x0ABCDEF0
    hashes = spark.createDataFrame(
        [
            (1, hi, lo),
            (2, hi ^ (1 << 5), lo ^ (1 << 30)),  # hamming 2, split halves
            (3, hi ^ 0xFF, lo ^ 0xFF00),  # hamming 16 -> filtered out
        ],
        "i long, hi long, lo long",
    )
    pairs = image_neardup_pairs(hashes, id_col="i", max_hamming=2).collect()
    assert [(r.a_id, r.b_id, r.hamming) for r in pairs] == [(1, 2, 2)]
    # exhaustive: EVERY weight-2 flip pattern across the 64 bits is found
    import random

    rng = random.Random(7)
    rows = [(0, hi, lo)]
    for n in range(1, 33):
        b1, b2 = rng.sample(range(64), 2)
        h2, l2 = hi, lo
        for b in (b1, b2):
            if b < 32:
                h2 ^= 1 << b
            else:
                l2 ^= 1 << (b - 32)
        rows.append((n, h2, l2))
    got = image_neardup_pairs(
        spark.createDataFrame(rows, "i long, hi long, lo long"), id_col="i"
    )
    assert got.filter(F.col("a_id") == 0).count() == 32
    with pytest.raises(ValueError, match="complete only"):
        image_neardup_pairs(hashes, id_col="i", max_hamming=3)
