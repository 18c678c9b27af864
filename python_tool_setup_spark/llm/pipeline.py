"""Training-data pipeline operators: deterministic sampling, token-budget
shard packing, corpus mix rebalancing, TF-IDF top terms.

These extend the reference's ingestion surface (no equivalent exists in
`/root/reference` — see SURVEY.md §2.5 provenance notes) with the
operations a 100 TB training-data pipeline runs between ingestion and
training:

- **Deterministic sampling** uses an md5 content hash, not `rand()`:
  the same row always lands in the same bucket, so samples are
  reproducible across runs, resumable after failure, and consistent
  between train/eval splits. No shuffle at all — a pure filter that
  pushes down around the scan.
- **Shard packing** assigns documents to fixed-token-budget shards via
  a TWO-LEVEL cumulative sum: per-chunk partial sums (map-side
  combine, one small shuffle) + a broadcast of chunk offsets, then a
  within-chunk window. A naive global window over each language would
  funnel the largest language through ONE task; the two-level form
  keeps every window partition bounded by `chunk_size` rows.
- **Mix weights** compute per-group resampling weights from group
  counts — a tiny aggregate, broadcastable to the row-level sampler.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_MOD = 10_000


# ------------------------------------------------- deterministic hash ----
def hash_bucket(key: Column | str) -> Column:
    """Stable [0, HASH_MOD) bucket from md5 of the key's string form.

    Engine-independent (md5 of UTF-8 text), unlike xxhash64/crc32, so
    samples match across Spark, DuckDB, or any downstream system.
    """
    col = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(HASH_MOD)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash
    bucket falls below rate*HASH_MOD for its stratum; rows of a stratum
    missing from ``rates`` are dropped.

    `rates` is a small dict (strata cardinality ~ languages/domains),
    inlined as a literal map — evaluated per row with zero shuffle and
    zero join; the filter sits directly on the scan.
    """
    entries = [x for k, v in rates.items() for x in (F.lit(k), F.lit(float(v)))]
    rate = F.coalesce(
        F.element_at(F.create_map(*entries), F.col(strata_col)),
        F.lit(0.0),
    )
    return df.filter(hash_bucket(key_col) < rate * HASH_MOD)


# ------------------------------------------------------ shard packing ----
def pack_shards(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    budget: int,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Assign each row a `shard_id` so consecutive rows (by `order_col`
    within `group_col`) fill fixed `budget`-token shards: shard_id =
    floor(exclusive-prefix-sum(tokens) / budget).

    Two-level prefix sum (see module docstring): chunk = order//chunk_
    size is monotonic in the order column, so global prefix sum =
    chunk-offset (cumsum of per-chunk totals, tiny) + within-chunk
    prefix sum (window bounded by chunk_size rows). Deterministic and
    identical to the single-window result, without the one-task-per-
    group bottleneck.
    """
    chunked = df.withColumn("_chunk", (F.col(order_col) / chunk_size).cast("bigint"))
    chunk_tot = chunked.groupBy(group_col, "_chunk").agg(
        F.sum(token_col).alias("_chunk_tokens")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = chunk_tot.select(
        group_col,
        "_chunk",
        F.coalesce(F.sum("_chunk_tokens").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = (
        Window.partitionBy(group_col, "_chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        chunked.join(F.broadcast(offsets), [group_col, "_chunk"])
        .withColumn(
            "_prefix",
            F.col("_offset") + F.coalesce(F.sum(token_col).over(w_in), F.lit(0)),
        )
        .withColumn("shard_id", (F.col("_prefix") / budget).cast("bigint"))
        .drop("_chunk", "_chunk_tokens", "_offset", "_prefix")
    )


# -------------------------------------------------------- mix weights ----
def mix_weights(df: DataFrame, group_col: str) -> DataFrame:
    """Per-group resampling weight = target_share / actual_share, with
    the target uniform across observed groups. The output is one row
    per group (broadcast-sized) — join it back to rows and feed the
    weight into `stratified_sample` rates to rebalance a corpus toward
    the uniform mix.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("group_rows"))
    tots = counts.agg(
        F.sum("group_rows").alias("_tot"), F.count(F.lit(1)).alias("_ng")
    )
    counts = counts.crossJoin(F.broadcast(tots)).withColumn(
        "actual_share", F.col("group_rows") / F.col("_tot")
    )
    tgt = F.lit(1.0) / F.col("_ng")
    return counts.withColumn("weight", tgt / F.col("actual_share")).select(
        group_col,
        "group_rows",
        # scale-first rounds: the count ratios are bit-identical
        # across engines; ROUND(x, 6) tie resolution is not
        (F.round(1000000 * F.col("actual_share")) / 1000000.0).alias(
            "actual_share"
        ),
        (F.round(1000000 * F.col("weight")) / 1000000.0).alias("weight"),
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_frac: float = 0.01,
    test_frac: float = 0.01,
) -> DataFrame:
    """Deterministic train/val/test assignment (column ``split``) by
    content-hash bucket.

    The md5 bucket of the KEY decides the split, so membership is
    stable across runs, machines, and engines (reproducible evals), a
    document never migrates between splits as the corpus grows, and
    the assignment is a pure per-row projection — no shuffle, no join,
    nothing collected. At 100 TB this is a scan-speed operation.
    """
    b = hash_bucket(key_col)
    val_hi = int(val_frac * HASH_MOD)
    test_hi = val_hi + int(test_frac * HASH_MOD)
    return df.withColumn(
        "split",
        F.when(b < val_hi, "val")
        .when(b < test_hi, "test")
        .otherwise("train"),
    )


def quantile_quality_filter(
    df: DataFrame,
    score_col,
    keep_frac: float = 0.9,
    relative_error: float = 0.0,
) -> DataFrame:
    """Drop the worst ``1 - keep_frac`` of rows by a quality score.

    The cutoff is the corpus-level ``(1 - keep_frac)`` quantile of the
    score, computed with ``approxQuantile`` (Greenwald-Khanna, one pass,
    driver receives ONE scalar). ``relative_error=0`` gives the exact
    quantile for gate parity; at 100 TB pass ~1e-4 — the sketch is
    mergeable across partitions, so no sort and no second shuffle.
    """
    col = score_col if isinstance(score_col, str) else score_col._jc.toString()
    cutoff = df.approxQuantile(col, [1.0 - keep_frac], relative_error)[0]
    return df.filter(F.col(col) >= F.lit(cutoff))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Deterministic weighted sample of ``n`` rows without replacement:
    each row gets priority u / w (u = stable md5 uniform in [0, 2^32),
    w = its weight) and the n smallest priorities win — higher weight ⇒
    stochastically smaller priority ⇒ more likely sampled, reproducible
    across runs/engines because u is content-derived, not a RNG.

    Same family as Efraimidis-Spirakis exponential-jump sampling, with
    the u^(1/w) key replaced by u/w: ln/pow are NOT bit-identical
    across engines, while integer-from-hash / weight is a single
    IEEE-exact division both Spark and DuckDB round identically — the
    priority is therefore oracle-checkable to the last bit.

    Scale: priorities are scan-stage expressions; selection is a
    global top-n (TakeOrderedAndProject — per-partition heaps of n,
    then a driver merge of partition heads; no full sort, no shuffle
    of the losers).
    """
    from python_tool_setup_spark.llm.dedup import md5_hash32

    u = md5_hash32(F.col(id_col).cast("string"))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    pri = (u.cast("double") / w).alias("priority")
    return (
        df.withColumn("priority", pri)
        .orderBy("priority", id_col)
        .limit(n)
    )


# ---------------------------------------------- temperature resample ----
def temperature_resample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled mixture resampling (the multilingual-corpus
    balancing rule: sample group g with probability ∝ n_g^(1/T)).

    Per-group keep probability p_g = C · n_g^(1/T − 1), with C chosen
    so the most-upweighted (smallest) group keeps 100% — pure
    downsampling, no duplication. Selection reuses the deterministic
    md5 bucket of ``key_col``, so the sample is reproducible, join-free
    per row (the group→p map is broadcast), and resumable at any
    parallelism. p is rounded to 6 decimals so the acceptance threshold
    is engine-exact.

    Returns the sampled rows with a ``keep_p`` column attached.
    """
    exponent = 1.0 / float(temperature) - 1.0
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    top = counts.agg(F.max(F.pow("_n", F.lit(exponent))).alias("_pmax"))
    probs = counts.crossJoin(F.broadcast(top)).select(
        group_col,
        # scale-first round (q208 recipe): the rounded p is also the
        # acceptance threshold, so a per-engine ROUND tie would change
        # WHICH ROWS survive, not just a display digit
        (
            F.round(1000000 * (F.pow("_n", F.lit(exponent)) / F.col("_pmax")))
            / 1000000.0
        ).alias("keep_p"),
    )
    return df.join(F.broadcast(probs), group_col).filter(
        hash_bucket(key_col) < F.col("keep_p") * HASH_MOD
    )


# ------------------------------------------------- sequence packing ----
def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    seq_len: int,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining batch
    prep): documents are concatenated in ``order_col`` order within
    ``group_col`` and split into fixed ``seq_len``-token training
    sequences; each document gets its boundary map — the sequence its
    first token lands in, the offset inside it, and the last sequence
    it spans.

    The token start position is the same two-level prefix sum as
    :func:`pack_shards` (chunk offsets broadcast + bounded windows), so
    no group ever funnels through a single task. Zero-token rows are
    dropped (they occupy no positions).

    Adds ``seq_id``, ``seq_offset``, ``end_seq_id``, ``n_seqs``.
    """
    chunked = df.filter(F.col(token_col) > 0).withColumn(
        "_chunk", (F.col(order_col) / chunk_size).cast("bigint")
    )
    chunk_tot = chunked.groupBy(group_col, "_chunk").agg(
        F.sum(token_col).alias("_chunk_tokens")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = chunk_tot.select(
        group_col,
        "_chunk",
        F.coalesce(F.sum("_chunk_tokens").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = (
        Window.partitionBy(group_col, "_chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    L = int(seq_len)
    return (
        chunked.join(F.broadcast(offsets), [group_col, "_chunk"])
        .withColumn(
            "_start",
            F.col("_offset") + F.coalesce(F.sum(token_col).over(w_in), F.lit(0)),
        )
        .withColumn("_end", F.col("_start") + F.col(token_col) - 1)
        .withColumn("seq_id", F.expr(f"_start div {L}"))
        .withColumn("seq_offset", F.expr(f"_start % {L}"))
        .withColumn("end_seq_id", F.expr(f"_end div {L}"))
        .withColumn("n_seqs", F.col("end_seq_id") - F.col("seq_id") + 1)
        .drop("_chunk", "_chunk_tokens", "_offset", "_start", "_end")
    )


# ---------------------------------------------- global id assignment ----
def assign_global_ids(
    df: DataFrame,
    order_col: str,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Contiguous 0..N-1 ids (column ``global_id``) in ``order_col``
    order without a global sort (the zipWithIndex primitive, kept in
    the DataFrame API).

    Same two-level decomposition as :func:`pack_shards`: the chunk key
    ``order_col // chunk_size`` is monotone in the order column, so
    global position = broadcast cumulative chunk counts + within-chunk
    row_number. No task ever sees more than ``chunk_size`` rows in one
    window partition, and nothing funnels through a single partition —
    the failure mode of ``ROW_NUMBER() OVER (ORDER BY ...)`` at scale.
    """
    from python_tool_setup_spark.operators.blockrank import prefix_agg

    chunked = df.withColumn(
        "_chunk", (F.col(order_col) / chunk_size).cast("bigint")
    )
    counts = chunked.groupBy("_chunk").agg(F.count(F.lit(1)).alias("_cn"))
    offsets = prefix_agg(
        counts, [("_chunk", "asc")], {"_off": ("sum", "_cn")}
    ).select("_chunk", "_off")
    w_in = Window.partitionBy("_chunk").orderBy(order_col)
    return (
        chunked.join(F.broadcast(offsets), "_chunk")
        .withColumn(
            "global_id", F.col("_off") + F.row_number().over(w_in) - 1
        )
        .drop("_chunk", "_cn", "_off")
    )
