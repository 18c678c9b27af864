"""Unit tests for LLM-data-pipeline operators (L1-L6) with planted
duplicates — covering the probabilistic paths the DuckDB oracle can't
(MinHash/SimHash signatures, LSH/IVF ANN recall, multimodal stubs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_tool_setup_spark.llm import (
    ann_lsh_topk,
    cosine_topk,
    exact_dedup,
    fingerprint_minhash,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    token_count_bpeish,
)
from python_tool_setup_spark.llm.dedup import minhash_lsh_probe


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast", "a"),
        (1, "a completely different document about spark query engines here", "a"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast", "a"),
        (3, "the quick brown fox jumps over the lazy dog and runs away quick", "b"),
        (4, "unrelated text with its own words entirely separate content", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, src string")


def test_exact_dedup_planted(spark, docs):
    out = exact_dedup(docs, ["text"], keep_order=[F.col("doc_id")])
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 1, 3, 4]  # doc 2 (copy of 0) collapsed, survivor = min id


def test_fingerprint_copies_share(spark, docs):
    fp = docs.select("doc_id", fingerprint_minhash("text").alias("f"))
    got = {r["doc_id"]: r["f"] for r in fp.collect()}
    assert got[0] == got[2]          # identical text -> identical fingerprint
    assert got[0] != got[1]


def test_minhash_identical_pair_found(spark, docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, shingle_size=3,
        threshold=0.5,
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 2)] == 1.0        # exact copy
    assert (0, 3) in got             # one-word variant is a near-dup
    assert (0, 4) not in got and (1, 4) not in got


def test_simhash_distance_properties(spark, docs):
    sims = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash("text").alias("s")).collect()
    }
    assert sims[0] == sims[2]        # identical text -> identical simhash
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sims[0], sims[3]) < ham(sims[0], sims[4])


def test_simhash_pairs_blocking_finds_copies(spark, docs):
    pairs = simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 2)] == 0


def test_ngram_jaccard_blocked(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["src"], shingle_size=3, threshold=0.3
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 2)] == 1.0
    assert (0, 3) not in got         # cross-block pair excluded by blocking


_HOT = "the same boilerplate cookie banner text repeated on every single page"
_TWIN = (
    "a planted near duplicate pair about parquet row groups and shuffle "
    "partitions that share all but the final word of their text while the "
    "rest of the corpus is one hot boilerplate key that the bucket cap must "
    "skip in every operator"
)


def test_bucket_cap_skips_hot_key_keeps_planted_pair(spark):
    # 1001 identical documents put 1001 members in every one of their
    # buckets: one over the 1000-member cap, so none of them is paired.
    hot = spark.range(1001).select(
        F.col("id").alias("doc_id"), F.lit(_HOT).alias("text")
    )
    twins = spark.createDataFrame(
        [(2000, _TWIN), (2001, _TWIN + " today")],
        "doc_id long, text string",
    )
    corpus = hot.unionByName(twins)
    lsh = minhash_lsh_pairs(corpus, "doc_id", "text", shingle_size=3)
    assert [(r["id_a"], r["id_b"]) for r in lsh.collect()] == [(2000, 2001)]
    sim = simhash_pairs(corpus, "doc_id", "text")
    assert [(r["id_a"], r["id_b"]) for r in sim.collect()] == [(2000, 2001)]

    existing = hot.unionByName(twins.filter(F.col("doc_id") == 2000))
    new = spark.createDataFrame(
        [(3000, _HOT), (3001, _TWIN + " today")], "doc_id long, text string"
    )
    probe = minhash_lsh_probe(existing, new, "doc_id", shingle_size=3)
    assert [(r["new_id"], r["existing_id"]) for r in probe.collect()] == [
        (3001, 2000)
    ]


def test_language_id_handcrafted(spark):
    rows = [
        (1, "le chat est sur la table et le chien est la"),
        (2, "the cat is on the table and it is happy"),
        (3, "der hund und die katze das ist ein haus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "fr", 2: "en", 3: "de"}


def test_token_count_bpeish(spark):
    df = spark.createDataFrame([("hello, world! x2 done",)], "text string")
    # tokens: hello , world ! x 2 done -> 7
    assert df.select(token_count_bpeish("text").alias("n")).first()["n"] == 7


# ------------------------------------------------------------- vectors ----
@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant: vec 100+i is a scaled copy of vec i (cosine == 1) for i < 10
    rows += [(100 + i, [float(x * 2.0) for x in base[i]]) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_finds_planted_copy(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    out = cosine_topk(queries, vectors, "vec_id", "vec_id", "embedding", k=1)
    got = {r["vec_id"]: (r["neighbor_id"], r["cosine"]) for r in out.collect()}
    for i in range(10):
        assert got[i] == (100 + i, 1.0)


def test_ann_lsh_recall_on_planted(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    out = ann_lsh_topk(
        queries, vectors, "vec_id", "vec_id", "embedding",
        dim=16, k=1, num_planes=8, num_tables=4,
    )
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    # identical direction -> identical buckets in every table: recall 100%
    assert all(got[i] == 100 + i for i in range(10))


def test_ivf_finds_planted(spark, vectors):
    from python_tool_setup_spark.llm.similarity import ivf_index, ivf_topk

    assigned, model = ivf_index(vectors, "embedding", num_cells=4)
    queries = vectors.filter(F.col("vec_id") < 10)
    out = ivf_topk(
        queries, assigned, model, "vec_id", "vec_id", "embedding", k=1, nprobe=2
    )
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    assert sum(got.get(i) == 100 + i for i in range(10)) >= 8


def test_retrieval_ties_break_on_rounded_cosine(spark):
    """Exact, LSH and IVF search rank on the same 6-decimal cosine with
    the same id tie-break: two corpus vectors whose cosines to the query
    differ by < 5e-7 tie, and k=1 keeps the lower id even though the
    higher id has the larger raw cosine."""
    import math

    from python_tool_setup_spark.llm.similarity import ivf_index, ivf_topk

    def at(cos):
        return [cos, math.sqrt(1.0 - cos * cos), 0.0, 0.0]

    corpus = spark.createDataFrame(
        [(1, at(0.9999991)), (2, at(0.9999994))],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    exact = cosine_topk(queries, corpus, "vec_id", "vec_id", "embedding", k=1)
    ann = ann_lsh_topk(
        queries, corpus, "vec_id", "vec_id", "embedding",
        dim=4, k=1, num_planes=4, num_tables=2,
    )
    assigned, model = ivf_index(corpus, "embedding", num_cells=2)
    ivf = ivf_topk(
        queries, assigned, model, "vec_id", "vec_id", "embedding", k=1, nprobe=2
    )
    for out in (exact, ann, ivf):
        assert [(r["neighbor_id"], r["cosine"]) for r in out.collect()] == [
            (1, 0.999999)
        ]


# ---------------------------------------------------------- multimodal ----
def test_multimodal_plumbing(spark, tmp_path):
    import os

    from python_tool_setup_spark.llm.multimodal import (
        read_media,
        sample_frames,
        with_media_metadata,
    )

    d = str(tmp_path / "media")
    os.makedirs(d)
    payloads = {"a.png": b"x" * 3000, "b.jpg": b"y" * 500, "c.wav": b"z" * 100}
    for name, data in payloads.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(data)

    media = with_media_metadata(read_media(spark, d))
    got = {r["path"].split("/")[-1]: r for r in media.collect()}
    assert got["a.png"]["media_type"] == "image"
    assert got["c.wav"]["media_type"] == "audio"
    assert got["b.jpg"]["length"] == 500

    frames = sample_frames(read_media(spark, d, glob="a.png"), every_n_bytes=1000)
    assert frames.count() == 3       # 3000 bytes / 1000 -> 3 "frames"
    assert [r["frame_index"] for r in frames.orderBy("frame_index").collect()] == [0, 1, 2]


# ----------------------------------------------------------- png codec ----
def test_png_roundtrip_exact():
    import random

    from python_tool_setup_spark.llm.png import decode_png, encode_png

    rng = random.Random(7)
    for w, h, ch in [(1, 1, 1), (1, 500, 1), (7, 13, 3), (16, 16, 4)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        assert decode_png(encode_png(w, h, px, ch)) == (w, h, ch, px)


def test_png_decodes_all_filter_types():
    """Hand-filter one scanline per filter type (0-4) and check the
    decoder reverses each (the encoder only emits filter 0)."""
    import struct
    import zlib

    from python_tool_setup_spark.llm.png import _chunk, decode_png

    w, h, ch = 4, 5, 3
    stride = w * ch
    pixels = bytes(range(stride)) * h
    rows, prev = [], bytearray(stride)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        enc = bytearray(stride)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            ul = prev[i - ch] if i >= ch else 0
            up = prev[i]
            if f == 0:
                enc[i] = line[i]
            elif f == 1:
                enc[i] = (line[i] - left) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - up) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - ((left + up) >> 1)) & 0xFF
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                enc[i] = (line[i] - pred) & 0xFF
        rows.append(bytes([f]) + bytes(enc))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(data) == (w, h, ch, pixels)


def test_png_rejects_unsupported():
    import pytest as _pytest

    from python_tool_setup_spark.llm.png import decode_png, encode_png

    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    with _pytest.raises(NotImplementedError):
        encode_png(2, 2, b"\x00" * 8, channels=2)  # gray+alpha unsupported


def test_decode_image_stats_real_png(spark, tmp_path):
    import os

    from python_tool_setup_spark.llm.multimodal import decode_image_stats, read_media
    from python_tool_setup_spark.llm.png import encode_png

    d = str(tmp_path / "real_png")
    os.makedirs(d)
    # 4x4 RGB: top half black, bottom half white
    px = b"\x00" * 24 + b"\xff" * 24
    with open(os.path.join(d, "img.png"), "wb") as f:
        f.write(encode_png(4, 4, px, channels=3))

    stats = decode_image_stats(read_media(spark, d)).collect()[0]
    assert (stats["width"], stats["height"], stats["n_channels"]) == (4, 4, 3)
    assert stats["n_pixel_bytes"] == 48
    import hashlib as _h

    assert stats["pixel_sha256"] == _h.sha256(px).hexdigest()


def test_filtered_topk_finds_planted_under_predicate(spark):
    """Filtered search returns the planted neighbor when it satisfies
    the predicate, and never returns filtered-out ids."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v, i % 2))
    # planted near-copies of ids 0..9 (same parity label as source)
    for i in range(10):
        src = rows[i][1]
        rows.append((100 + 1000 + i, [x + 0.01 for x in src], i % 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    corpus = df.filter(F.col("vec_id") < 1000)
    queries = df.filter(F.col("vec_id") >= 1000)
    out = cosine_topk(
        queries, corpus.filter(F.col("label") == 0), "vec_id", "vec_id",
        "embedding", k=1,
    )
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    # even-labeled queries (sources 0,2,4,..) must find their source
    hits = sum(got.get(1100 + i) == i for i in range(0, 10, 2))
    assert hits == 5
    # nothing with label 1 may appear
    labels = {r[0]: r[2] for r in rows}
    assert all(labels[n] == 0 for n in got.values())
