"""Deduplication operators (L1/L2): exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design:
- exact dedup = hash-groupBy, one shuffle on the 256-bit content hash;
- MinHash signatures are computed PER ROW with array expressions (no
  shuffle, no Python); LSH banding turns the O(n²) pair space into a
  bucket equi-join — the only shuffle is on (band, band_hash);
- SimHash pairs use pigeonhole blocking: hamming(a,b) ≤ 3 over 64 bits
  guarantees at least one of 4 16-bit chunks is identical, so a
  4-way chunk equi-join finds every such pair exactly;
- candidate buckets are capped at the module constant ``_MAX_BUCKET``
  (1000 members, not a parameter) so a degenerate key (e.g. the empty
  document) cannot create a quadratic hot spot;
- MinHash-LSH, SimHash and n-gram Jaccard share one candidate-pair
  generator (``_bucket_pairs``): bucket the rows, emit every in-bucket
  pair with ``id_a < id_b``, then verify each pair exactly.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.llm.text import tokenize
from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.operators.relational import dedup_by_keys

# Candidate buckets with more members than this are skipped.
_MAX_BUCKET = 1000


# ----------------------------------------------------------- exact (L1) ----
def content_hash(text: Column | str) -> Column:
    """Collision-safe content hash (SHA-256) for exact dedup at corpus
    scale."""
    col = F.col(text) if isinstance(text, str) else text
    return F.sha2(col, 256)


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    keep_order: Sequence | None = None,
) -> DataFrame:
    """One row per distinct content (hash-groupBy). ``keep_order``
    makes the survivor deterministic (e.g. lowest id)."""
    h = F.sha2(F.concat_ws("\x1f", *content_cols), 256).alias("__h")
    with_h = df.withColumn("__h", h)
    out = dedup_by_keys(with_h, ["__h"], keep_order or [])
    return out.drop("__h")


# ------------------------------------------------------------- shingles ----
def shingles(tokens: Column | str, size: int = 5) -> Column:
    """Word n-gram shingles of a token array (``llm.text.tokenize``) →
    array<string>. Documents shorter than ``size`` tokens yield one
    whole-text shingle.

    The expression references the token array ``2 * size + 2`` times,
    so pass a column a projection already holds: Spark does not share
    the work of identical expressions that contain lambda functions.

    Built from ``size - 1`` chained ``zip_with`` concats over shifted
    token arrays: O(size) array ops per row. The transform-over-indices
    form (``concat_ws(slice(toks, i, size))`` per position) re-sliced
    the token array per element inside an interpreted HOF and was ~6x
    slower at 5k docs — shingling feeds MinHash, SimHash, and Jaccard,
    so this expression is the hottest path in the dedup family."""
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(toks)
    whole = F.array(F.concat_ws(" ", toks))
    grams = toks
    for s in range(1, size):
        shifted = F.slice(toks, s + 1, F.greatest(n - s, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.slice(grams, 1, F.greatest(n - size + 1, F.lit(1)))
    return F.when(n <= size, whole).otherwise(F.array_distinct(grams))


# ------------------------------------- engine-independent md5 hashes ----
def md5_hash32(col: Column | str) -> Column:
    """Stable 32-bit hash in [0, 2^32) from md5 of UTF-8 text.

    Engine-independent (unlike xxhash64), so a DuckDB oracle can
    reproduce it: ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def md5_hash64(col: Column | str) -> Column:
    """Stable signed 64-bit hash: the first 16 md5 hex chars assembled
    from two 32-bit halves (``shiftleft`` wraps two's-complement, so the
    full signed range is covered deterministically). DuckDB mirror:
    compute hi/lo the same way and test bits against each half."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.md5(c)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# -------------------------------------------------------- MinHash (L2) ----
def minhash_signature(sh: Column | str, num_hashes: int = 64) -> Column:
    """MinHash signature of a shingle array (``shingles``): array of
    ``num_hashes`` min-over-shingles of seeded xxhash64. Per-row
    expression — zero shuffle at any scale."""
    sh = F.col(sh) if isinstance(sh, str) else sh
    # Single pass over the shingle array: fold with a num_hashes-wide
    # accumulator (min per seed). The naive form — num_hashes separate
    # array_min(transform(...)) projections — re-evaluates the shingle
    # expression num_hashes times per row and was ~4x slower.
    init = F.expr(f"array_repeat({2**63 - 1}L, {num_hashes})")
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda m, i: F.least(m, F.xxhash64(s, i)),
        ),
    )


def _minhash_base(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_size: int
) -> DataFrame:
    """(__id, __sh, __sig): each row's shingle set and MinHash signature,
    one projection per step, so each document is tokenized and shingled
    once."""
    return (
        df.select(F.col(id_col).alias("__id"), tokenize(text_col).alias("__tk"))
        .select("__id", shingles("__tk", shingle_size).alias("__sh"))
        .select("__id", "__sh", minhash_signature("__sh", num_hashes).alias("__sig"))
    )


def _bands(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__id, band, bucket): one row per LSH band, keyed by the hash of
    that band's slice of the signature."""
    rows_per_band = num_hashes // bands
    return base.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")


def _bucket_pairs(
    buckets: DataFrame,
    members: str,
    pair: Callable[[Column, Column], Column],
    ids: tuple[str, str] = ("id_a", "id_b"),
    cap: int | None = None,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Every pair inside each bucket, exploded to one struct column
    ``p`` next to the ``keep`` columns.

    ``members`` names the array column of a bucket's members and
    ``pair(a, b)`` builds the pair struct; a pair is kept when its
    ``ids`` fields are ordered ``ids[0] < ids[1]``. Buckets of one
    member are dropped, and so are buckets over ``cap`` members."""
    n = F.size(members)
    return buckets.filter((n > 1) & (n <= cap) if cap else n > 1).select(
        *keep,
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col(members),
                        lambda a: F.transform(F.col(members), lambda b: pair(a, b)),
                    )
                ),
                lambda p: p[ids[0]] < p[ids[1]],
            )
        ).alias("p"),
    )


def _jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact |A ∩ B| / |A ∪ B| of two shingle-set columns, rounded to 6
    places scale first: int/int ratios are decimal-reachable ties at
    scale 6 (q208 class)."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return F.round(1000000 * (inter / F.size(F.array_union(sh_a, sh_b)))) / 1000000.0


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: MinHash signature → band buckets →
    candidate equi-join → exact Jaccard verification over shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold. Recall is the standard LSH S-curve at
    (bands, rows-per-band); precision is exact (verified)."""
    base = _minhash_base(df, id_col, text_col, num_hashes, shingle_size)
    buckets = (
        _bands(base, num_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.collect_list("__id").alias("ids"))
    )
    pairs = (
        _bucket_pairs(
            buckets,
            "ids",
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            ids=("a", "b"),
            cap=_MAX_BUCKET,
        )
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )

    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_probe(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup: probe new arrivals against an existing
    corpus without re-pairing the corpus with itself.

    Returns (new_id, existing_id, jaccard) with jaccard >= threshold —
    only cross-side pairs, never existing×existing or new×new. This is
    the arrival-batch shape of MinHash dedup at scale: the existing
    side's signatures/band buckets are computed once (in production:
    stored alongside the corpus, exactly like q185's frozen IVF
    quantizer), and each new batch computes only its OWN signatures
    and equi-joins the band index — cost O(|new| + matched buckets),
    independent of corpus size beyond the index scan. Degenerate
    existing-side buckets are capped (same guard as minhash_lsh_pairs)
    so a boilerplate bucket can't go quadratic.
    """
    ex_base = _minhash_base(existing, id_col, text_col, num_hashes, shingle_size)
    new_base = _minhash_base(new, id_col, text_col, num_hashes, shingle_size)
    # cap hot buckets on the (large) existing side
    wcnt = Window.partitionBy("band", "bucket")
    ex_bands = (
        _bands(ex_base, num_hashes, bands)
        .withColumn("__n", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("__n") <= _MAX_BUCKET)
    )
    cand = (
        _bands(new_base, num_hashes, bands)
        .withColumnRenamed("__id", "new_id")
        .join(
            ex_bands.withColumnRenamed("__id", "existing_id"),
            ["band", "bucket"],
        )
        .select("new_id", "existing_id")
        .distinct()
    )
    sh_n = new_base.select(F.col("__id").alias("new_id"), F.col("__sh").alias("sh_n"))
    sh_e = ex_base.select(
        F.col("__id").alias("existing_id"), F.col("__sh").alias("sh_e")
    )
    return (
        cand.join(sh_n, "new_id")
        .join(sh_e, "existing_id")
        .withColumn("jaccard", _jaccard("sh_n", "sh_e"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "existing_id", "jaccard")
    )


# -------------------------------------------------------- SimHash (L2) ----
def simhash(text: Column | str, num_bits: int = 64) -> Column:
    """64-bit SimHash over word bigram shingles, pure built-ins: per bit
    i, sign of Σ_tokens (±1 by hash bit i), packed into a bigint."""
    sh = shingles(tokenize(text), 2)
    hashes = F.transform(sh, md5_hash64)
    # Single pass: fold the hash array into a num_bits-wide vote vector
    # (±1 per bit), then pack sign bits into one long. shiftleft(1L, 63)
    # wraps to Long.MIN_VALUE, which is exactly bit 63's two's-complement
    # contribution.
    def _mask(i):
        # bit mask 2^i as long from an index COLUMN (shiftright/shiftleft
        # only take int literals): pow is exact for powers of two <= 2^62,
        # bit 63 is MIN_VALUE.
        return F.when(i == 63, F.lit(-(2**63)).cast("long")).otherwise(
            F.pow(F.lit(2.0), i).cast("long")
        )

    votes = F.aggregate(
        hashes,
        F.expr(f"array_repeat(0L, {num_bits})"),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_bits - 1)),
            lambda c, i: c
            + F.when(h.bitwiseAND(_mask(i)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    packed_terms = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(num_bits - 1)),
        lambda v, i: F.when(v > 0, _mask(i)).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        packed_terms, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs with hamming(simhash) <= max_hamming, found EXACTLY via
    pigeonhole chunk blocking (4 chunks of 16 bits: distance ≤ 3 forces
    an identical chunk), then verified with bit_count(a XOR b)."""
    base = df.select(
        F.col(id_col).alias("__id"), simhash(text_col, 64).alias("__sim")
    )
    chunked = base.select(
        "__id",
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("__sim", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("__id", "__sim", "cc.chunk_id", "cc.chunk")

    buckets = chunked.groupBy("chunk_id", "chunk").agg(
        F.collect_list(F.struct("__id", "__sim")).alias("members")
    )
    return (
        _bucket_pairs(
            buckets,
            "members",
            lambda a, b: F.struct(
                a["__id"].alias("id_a"),
                b["__id"].alias("id_b"),
                a["__sim"].alias("sim_a"),
                b["__sim"].alias("sim_b"),
            ),
            cap=_MAX_BUCKET,
        )
        .select("p.*")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- n-gram Jaccard (L2) ----
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_cols: Sequence[str] = (),
    shingle_size: int = 3,
    threshold: float = 0.1,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram similarity for pairs within blocking groups
    (deterministic, oracle-checkable).

    ``metric="jaccard"`` scores resemblance |∩|/|∪|;
    ``metric="containment"`` scores |∩|/min(|A|,|B|) — the measure
    that catches near-SUBSET duplication (a document quoting most of
    a shorter one), which resemblance dilutes toward 0 as the longer
    document grows. Same inverted-index candidate generation either
    way; the output score column is named after the metric.

    Sparse formulation: explode shingles, equi-join on (block, shingle)
    so only pairs SHARING a shingle are ever materialized, count shared
    shingles per pair, then jaccard = |∩| / (|A| + |B| - |∩|). Cost is
    Σ_shingle (docs-per-shingle)² instead of |block|² full set ops —
    the standard inverted-index trick; ~10x faster on the fixture corpus
    and the gap widens with block size. Pairs sharing nothing have
    jaccard 0 and are (correctly) absent for any threshold > 0.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (pairs with no shared "
                         "shingle are never materialized)")
    blocks = list(block_cols)
    base = (
        df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c) for c in blocks],
            tokenize(text_col).alias("__tk"),
        )
        .select("__id", *blocks, shingles("__tk", shingle_size).alias("__sh"))
        .withColumn("__n", F.size("__sh"))
    )
    # explode_outer, then drop the empty-set rows: Spark infers
    # ``size(__sh) > 0`` from a plain explode and pushes it below the
    # shingle Project, re-tokenizing every row inside that Filter.
    ex = base.select(
        *blocks, "__id", "__n", F.explode_outer("__sh").alias("__s")
    ).filter(F.col("__s").isNotNull())
    # bucket per (block, shingle) then emit pairs — a self-join would
    # evaluate the (interpreted, HOF-heavy) shingle expression twice and
    # shuffle both sides; this evaluates once and shuffles once.
    buckets = ex.groupBy(*blocks, "__s").agg(
        F.collect_list(F.struct("__id", "__n")).alias("ms")
    )
    shared = (
        _bucket_pairs(
            buckets,
            "ms",
            lambda a, b: F.struct(
                a["__id"].alias("id_a"),
                b["__id"].alias("id_b"),
                a["__n"].alias("__na"),
                b["__n"].alias("__nb"),
            ),
            keep=blocks,
        )
        .select(*blocks, "p.*")
        .groupBy("id_a", "id_b", *blocks, "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    if metric == "jaccard":
        score = F.col("__inter") / (
            F.col("__na") + F.col("__nb") - F.col("__inter")
        )
    elif metric == "containment":
        score = F.col("__inter") / F.least(F.col("__na"), F.col("__nb"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        # scale-first round (q208 class): int/int similarity ratios
        shared.withColumn(metric, F.round(1000000 * score) / 1000000.0)
        .filter(F.col(metric) >= threshold)
        .select("id_a", "id_b", *blocks, metric)
    )


# --------------------------------------------- cluster resolution (L2) ----
def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS (``id_a``, ``id_b``) into CLUSTERS: every
    id gets the minimum
    id reachable through the pair graph (`cluster_id`), so "keep one
    per cluster" is a single dropDuplicates downstream.

    Iterative min-label propagation (large-star/small-star style):
    each round joins current labels through the edge list and keeps the
    per-node minimum; converges in O(log(diameter)) rounds for dup
    graphs (near-clique components -> typically 2-3 rounds). Each round
    is one shuffle on node id, at most 20 rounds; a pin truncates the
    plan so lineage doesn't grow per iteration. The previous label rides along
    inside the same groupBy, so the convergence probe is a short-circuit
    scan (``limit(1).count``) over the checkpointed round output — no
    extra join or full count per round. The driver sees only that 0/1,
    never row data.
    """
    edges = pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    id_type = dict(labels.dtypes)["cluster_id"]
    for _ in range(20):
        prop = edges.join(labels, edges["dst"] == labels["node"]).select(
            F.col("src").alias("node"),
            F.col("cluster_id").alias("cand"),
            F.lit(None).cast(id_type).alias("old"),
        )
        cur = labels.select(
            "node",
            F.col("cluster_id").alias("cand"),
            F.col("cluster_id").alias("old"),
        )
        new = pin(
            cur.unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("cand").alias("cluster_id"),
                # every node has exactly one non-null old label
                F.max("old").alias("old"),
            )
        )
        changed = (
            new.filter(F.col("cluster_id") != F.col("old")).limit(1).count()
        )
        labels = new.select("node", "cluster_id")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


# ------------------------------------------- incremental dedup (L1) ----
def incremental_dedup(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
) -> DataFrame:
    """Cross-run exact dedup: drop batch rows whose ``text`` hash
    (``content_sha``) already exists in a persisted hash store, keeping
    the min-id row per hash within the batch.

    This is how 100 TB pipelines dedup INCREMENTALLY — each crawl batch
    is checked against the accumulated index instead of re-clustering
    the full corpus. Both the in-batch winner window and the anti join
    hash-partition on ``content_sha``, so Spark reuses one exchange; at
    scale, persist the store bucketed by ``content_sha`` and the anti join
    prunes to touched buckets. Survivors' hashes appended to the store
    complete the cycle.
    """
    hashed = batch.withColumn("content_sha", F.sha2(F.col("text"), 256))
    firsts = dedup_by_keys(hashed, ["content_sha"], [id_col])
    seen = store.select("content_sha").distinct()
    return firsts.join(seen, "content_sha", "left_anti")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_cols: Sequence[str] = ("lang", "source"),
    max_distance: int = 8,
    prefix_len: int = 120,
    length_bucket: int = 16,
) -> DataFrame:
    """Near-duplicate pairs by bounded edit distance within cheap
    blocks — the "fuzzy" complement to MinHash (word-level) and
    SimHash (bit-level): catches small character edits (typos, OCR
    noise, templated ids) that keep most shingles intact but also the
    short texts where shingle statistics are too sparse.

    Blocking = equality on ``block_cols`` + a text-length bucket, so
    the quadratic levenshtein only runs inside each block's equi-join
    partition, never all-pairs. ``prefix_len`` caps the O(m*n) DP per
    pair, and Spark's thresholded ``levenshtein(l, r, max)`` bails out
    of the DP as soon as the running distance exceeds ``max`` — at
    100 TB the cost is (block sizes)^2 * O(prefix * max), with blocks
    kept small by the length bucket.
    """
    pref = F.substring(F.col(text_col), 1, prefix_len)
    blocked = df.select(
        F.col(id_col),
        pref.alias("__p"),
        F.floor(F.length(text_col) / length_bucket).alias("__lb"),
        *[F.col(c) for c in block_cols],
    )
    a = blocked.select(
        F.col(id_col).alias("a_id"),
        F.col("__p").alias("__pa"),
        "__lb",
        *[F.col(c) for c in block_cols],
    )
    b = blocked.select(
        F.col(id_col).alias("b_id"),
        F.col("__p").alias("__pb"),
        "__lb",
        *[F.col(c) for c in block_cols],
    )
    keys = ["__lb", *block_cols]
    # thresholded levenshtein returns -1 above max_distance: >= 0 is
    # exactly "distance <= max_distance" with DP early-exit
    dist = F.levenshtein("__pa", "__pb", max_distance)
    return (
        a.join(b, keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dist >= 0)
        .select("a_id", "b_id", dist.cast("bigint").alias("edit_dist"))
    )


def repeated_spans(
    df: DataFrame,
    shingle_len: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-span detection (suffix-array-style substring
    dedup, re-expressed relationally — the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" operation).

    Every length-``shingle_len`` token window is hashed into an
    inverted index; windows whose exact text occurs in >= ``min_docs``
    distinct documents mark duplicated positions, and overlapping
    positions are merged into maximal spans per document with one
    gaps-and-islands window pass. Work is Σ(postings per shingle) —
    never all-pairs — and both shuffles (shingle index, per-doc
    windows) key on high-cardinality columns.

    Returns one row per document that contains at least one duplicated
    span: (doc_id, n_dup_spans, dup_tokens, n_tokens, dup_fraction).
    """
    from python_tool_setup_spark.sources.files import fan_out

    L = int(shingle_len)
    toks = (
        fan_out(df).select(
            F.col("doc_id").alias("__id"),
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: t != F.lit(""),
            ).alias("__tk"),
        )
        .withColumn("__n_tokens", F.size("__tk"))
        .filter(F.col("__n_tokens") >= L)
    )
    sh = toks.select(
        "__id",
        "__n_tokens",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(__tk) - {L}), "
                f"p -> array_join(slice(__tk, p + 1, {L}), ' '))"
            )
        ).alias("__p", "__sh"),
    )
    dup = (
        sh.select("__sh", "__id")
        .distinct()
        .groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__sh")
    )
    hits = sh.join(dup, "__sh", "left_semi")

    w_prev = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        hits.withColumn("__end", F.col("__p") + F.lit(L - 1))
        .withColumn("__prev_end", F.max("__end").over(w_prev))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev_end").isNull()
                | (F.col("__p") > F.col("__prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w_run))
    )
    spans = islands.groupBy("__id", "__n_tokens", "__island").agg(
        F.min("__p").alias("__s"), F.max("__end").alias("__e")
    )
    return (
        spans.groupBy("__id", "__n_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("__e") - F.col("__s") + 1)
            .cast("bigint")
            .alias("dup_tokens"),
        )
        .select(
            F.col("__id").alias("doc_id"),
            "n_dup_spans",
            "dup_tokens",
            F.col("__n_tokens").cast("bigint").alias("n_tokens"),
            # scale-first round: the integer-count quotient is
            # bit-identical across engines, but ROUND(x, 6) resolves
            # its decimal ties differently per engine; a scale-0
            # round of the scaled double agrees on both
            (
                F.round(
                    1000000 * (F.col("dup_tokens") / F.col("__n_tokens"))
                )
                / 1000000.0
            ).alias("dup_fraction"),
        )
    )
