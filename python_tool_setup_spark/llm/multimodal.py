"""Multimodal columns (L5): image/audio/video as opaque ``binary``
columns with typed metadata, plus decode / hash / resize / frame-sample
plumbing over Arrow-batched ``mapInPandas``.

PNG decode is REAL — a pure-stdlib codec (``llm/png.py``: zlib inflate
+ scanline unfilter) runs inside the mapInPandas workers, so q44's
stats come from actual pixel data. Formats with no codec in the
container (JPEG, audio, video) remain STUBS: the real-Spark parts —
schema, binaryFile ingestion, batch iteration shape, partitioning — are
real and tested; only the frame slicing of ``sample_frames`` is a
clearly-marked deterministic fake.

At 100 TB: media bytes stay in executor-local Arrow batches end to end
(binaryFile scan → mapInPandas); nothing is collected; per-file rows
keep batches bounded via ``spark.sql.files.maxPartitionBytes`` and
``maxRecordsPerBatch``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EXT_TO_TYPE = {
    "jpg": "image", "jpeg": "image", "png": "image", "gif": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "avi": "video", "mkv": "video",
}


def read_media(spark, path: str, glob: str | None = None) -> DataFrame:
    """Ingest media files as opaque binary rows (S11/L5 plumbing)."""
    from python_tool_setup_spark.sources.files import read_binary_files

    return read_binary_files(spark, path, glob)


def with_media_metadata(df: DataFrame) -> DataFrame:
    """Typed metadata columns derived JVM-side: media_type from the
    extension, sha256 of the raw bytes (dedup key for exact media dedup)."""
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mapping = F.create_map(
        *[F.lit(x) for pair in _EXT_TO_TYPE.items() for x in pair]
    )
    return df.select(
        "path",
        F.coalesce(mapping[ext], F.lit("unknown")).alias("media_type"),
        "length",
        F.sha2("content", 256).alias("sha256"),
        "content",
    )


IMAGE_STATS_SCHEMA = (
    "path string, width int, height int, n_channels int, "
    "n_pixel_bytes long, pixel_sha256 string"
)


def decode_image_stats(df: DataFrame) -> DataFrame:
    """Real-decode PNGs and emit scalar per-image stats (driver-gate
    friendly: no array columns). ``pixel_sha256`` fingerprints the
    decoded raw pixel buffer, proving the decompress + unfilter path
    byte-exactly."""
    from python_tool_setup_spark.llm.png import decode_png

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "path": [], "width": [], "height": [], "n_channels": [],
                "n_pixel_bytes": [], "pixel_sha256": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                w, h, ch, pixels = decode_png(bytes(content))
                out["path"].append(path)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(ch)
                out["n_pixel_bytes"].append(len(pixels))
                out["pixel_sha256"].append(hashlib.sha256(pixels).hexdigest())
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(_decode, IMAGE_STATS_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled "frame", a
    fake byte-offset slice of ``every_n_bytes`` (a real decoder would
    need ffmpeg, which is not in the container, and would emit decoded
    frames at a time stride). Demonstrates the 1→N mapInPandas shape
    video pipelines need."""

    schema = "path string, frame_index int, frame_offset long, frame_digest string"

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "frame_index": [], "frame_offset": [], "frame_digest": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                for i, off in enumerate(range(0, max(len(data), 1), every_n_bytes)):
                    chunk = data[off : off + every_n_bytes]
                    rows["path"].append(path)
                    rows["frame_index"].append(i)
                    rows["frame_offset"].append(off)
                    rows["frame_digest"].append(hashlib.sha256(chunk).hexdigest()[:16])
            yield pd.DataFrame(rows)

    return df.select("path", "content").mapInPandas(_sample, schema)


AHASH_SCHEMA = "path string, hi long, lo long"


def ahash64(df: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) per image: decode the PNG, flatten
    to greyscale, threshold each of the first 64 pixels against their
    exact mean (sum/64 — exact in float64, so reproducible anywhere),
    and pack bit i = pixel_i > mean into two unsigned 32-bit halves
    ``(hi, lo)``. Halves instead of one int64 keep every value
    non-negative and make banding/hamming arithmetic engine-neutral.

    Arrow-batched mapInPandas — the decode+hash loop is the same shape
    any CV featurizer takes; at 100 TB images stream through executor
    workers, nothing driver-side.
    """
    from python_tool_setup_spark.llm.png import decode_png

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"path": [], "hi": [], "lo": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                _w, _h, _ch, pixels = decode_png(bytes(content))
                px = list(pixels[:64])
                mean = sum(px) / 64.0
                hi = lo = 0
                for i, p in enumerate(px):
                    if p > mean:
                        if i < 32:
                            hi |= 1 << i
                        else:
                            lo |= 1 << (i - 32)
                out["path"].append(path)
                out["hi"].append(hi)
                out["lo"].append(lo)
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(_hash, AHASH_SCHEMA)


def _ahash_bands(hi: F.Column, lo: F.Column) -> list[F.Column]:
    """Split the 64 aHash bits (carried as two 32-bit halves) into 3
    disjoint bands of 21/21/22 bits. With b bands, pigeonhole
    guarantees any pair within hamming b-1 agrees on at least one
    band, so 3 bands make candidate generation COMPLETE for
    hamming <= 2."""
    return [
        hi.bitwiseAND(F.lit(0x1FFFFF)),  # hi bits 0-20
        # hi bits 21-31 (11) + lo bits 0-9 (10)
        F.shiftright(hi, 21).bitwiseOR(
            F.shiftleft(lo.bitwiseAND(F.lit(0x3FF)), 11)
        ),
        F.shiftright(lo, 10),  # lo bits 10-31
    ]


def image_neardup_pairs(
    hashes: DataFrame, id_col: str = "path", max_hamming: int = 2
) -> DataFrame:
    """Near-duplicate image pairs by aHash hamming distance, blocked
    on 3 disjoint 21/21/22-bit bands of the 64-bit hash (pigeonhole:
    any pair within hamming 2 agrees on at least one band — candidate
    generation is COMPLETE for the default threshold, three equi-joins,
    never all-pairs; same scheme as SimHash text near-dup). Returns
    (a_id, b_id, hamming <= max_hamming).
    """
    if max_hamming > 2:
        raise ValueError(
            "image_neardup_pairs 3-band blocking is complete only for "
            f"max_hamming <= 2 (got {max_hamming}); add bands (k+1 for "
            "hamming k) to raise the threshold"
        )
    a = hashes.select(
        F.col(id_col).alias("a_id"),
        F.col("hi").alias("a_hi"),
        F.col("lo").alias("a_lo"),
        *[
            band.alias(f"a_b{i}")
            for i, band in enumerate(_ahash_bands(F.col("hi"), F.col("lo")))
        ],
    )
    b = hashes.select(
        F.col(id_col).alias("b_id"),
        F.col("hi").alias("b_hi"),
        F.col("lo").alias("b_lo"),
        *[
            band.alias(f"b_b{i}")
            for i, band in enumerate(_ahash_bands(F.col("hi"), F.col("lo")))
        ],
    )
    cands = [
        a.join(b, F.col(f"a_b{i}") == F.col(f"b_b{i}"))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_hi", "a_lo", "b_hi", "b_lo")
        for i in range(3)
    ]
    cand = cands[0].unionByName(cands[1]).unionByName(cands[2]).distinct()
    ham = F.bit_count(
        F.col("a_hi").bitwiseXOR(F.col("b_hi"))
    ) + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


RESIZE_SCHEMA = (
    "path string, out_width int, out_height int, resized_sha256 string"
)


def resize_nearest(df: DataFrame, factor: int = 2) -> DataFrame:
    """Real image resize: decode each PNG (llm/png.py stdlib codec),
    nearest-neighbor downsample by ``factor`` on BOTH axes with a pure
    numpy stride view (``arr[::f, ::f]`` — output pixel (x, y) takes
    input pixel (f*x, f*y)), and fingerprint the resized buffer. The
    thumbnail/preprocess stage of a multimodal training pipeline: a
    shuffle-free Arrow-batched map over the media table, so 100 TB of
    images resize at scan parallelism. Greyscale (1-channel) input —
    the shape the PNG gates stage; multi-channel would stride the
    last axis untouched the same way."""
    import numpy as np

    from python_tool_setup_spark.llm.png import decode_png

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "path": [], "out_width": [], "out_height": [],
                "resized_sha256": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                w, h, ch, pixels = decode_png(bytes(content))
                arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w * ch)
                small = np.ascontiguousarray(arr[::factor, ::factor])
                out["path"].append(path)
                out["out_width"].append(small.shape[1] // ch)
                out["out_height"].append(small.shape[0])
                out["resized_sha256"].append(
                    hashlib.sha256(small.tobytes()).hexdigest()
                )
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(_resize, RESIZE_SCHEMA)
