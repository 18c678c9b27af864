"""Vector similarity search over ``array<float>`` embedding columns
(L3): exact cosine top-k, LSH-bucketed ANN, IVF (k-means) ANN, and
embedding near-duplicate detection.

Scale design:
- the dot product is a JVM array expression (`zip_with` + `aggregate`)
  — no Python, no UDF in the exact path;
- exact top-k broadcasts the (small) query set against the corpus:
  one scan, no shuffle except the final per-query top-k window;
- every search ranks on a 6-decimal score (the cosine; hybrid's
  blend) with a corpus-id tie-break (``_ranked``), so exact and ANN
  results agree on ties and the per-query cut is
  ``relational.ranked_top_k``;
- LSH ANN buckets by random-hyperplane sign bits so each query only
  scans its probe buckets; hyperplanes come from a seeded RNG inside a
  vectorized Arrow-batched pandas UDF (numpy matmul per batch);
- IVF ANN trains k-means centroids with pyspark.ml (distributed),
  assigns partitions at write time, probes nprobe cells at query time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from python_tool_setup_spark.operators.relational import ranked_top_k


# --------------------------------------------------------- exact cosine ----
def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i in doubles, sequential order (deterministic)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _side(
    df: DataFrame, id_col: str, vec_col: str, tag: str, *extra: Column | str
) -> DataFrame:
    """One side of a search join: ``(__{tag}id, __{tag}vec,
    __{tag}norm, *extra)``, tag ``q`` for queries and ``c`` for the
    corpus. The L2 norm is computed once per row, not once per pair."""
    return df.select(
        F.col(id_col).alias(f"__{tag}id"),
        F.col(vec_col).alias(f"__{tag}vec"),
        l2_norm(F.col(vec_col)).alias(f"__{tag}norm"),
        *extra,
    )


def _rounded_cosine() -> Column:
    """Cosine of a (query, corpus) pair from the per-row norms, rounded
    to 6 decimals: the score every search ranks on."""
    return F.round(
        dot(F.col("__qvec"), F.col("__cvec"))
        / (F.col("__qnorm") * F.col("__cnorm")),
        6,
    )


def _ranked(
    scored: DataFrame, score: str, k: int, query_id: str, *cols: str
) -> DataFrame:
    """Top-``k`` per query by the (rounded) ``score`` desc, then corpus
    id — one tie rule for every search, so a 6-decimal tie at rank k is
    never a recall miss — as ``(query_id, neighbor_id, *cols, rank)``."""
    return ranked_top_k(
        scored, k, [F.col(score).desc(), F.col("__cid")], ["__qid"], "rank"
    ).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias("neighbor_id"),
        *cols,
        "rank",
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.
    Queries are broadcast; the corpus is scanned once. Ranking uses the
    ROUNDED cosine (+ id tie-break) so results are reproducible across
    engines/runs. Returns (query_id, neighbor_id, cosine, rank)."""
    q = F.broadcast(_side(queries, query_id, vec_col, "q"))
    c = _side(corpus, corpus_id, vec_col, "c")
    scored = (
        q.crossJoin(c)
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine", _rounded_cosine())
    )
    return _ranked(scored, "cosine", k, query_id, "cosine")


# ----------------------------------------------------------- LSH bucket ----
def lsh_multitable_signatures(
    vec_col: str, dim: int, num_planes: int, num_tables: int
):
    """Bucket ids for ALL hash tables in one Arrow pass (array<long>,
    one entry per table) — one matmul against the stacked plane tensor
    instead of num_tables separate UDF invocations. Table t's planes
    come from seed 42 + t."""
    rngs = [np.random.default_rng(42 + t) for t in range(num_tables)]
    planes = np.concatenate(
        [r.standard_normal((dim, num_planes)) for r in rngs], axis=1
    )  # dim x (tables*planes)
    powers = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())
        bits = (mat @ planes) > 0  # n x (tables*planes)
        out = [
            (bits[:, t * num_planes : (t + 1) * num_planes] @ powers)
            for t in range(num_tables)
        ]
        stacked = np.stack(out, axis=1)  # n x tables
        return pd.Series(list(stacked))

    return _sigs(F.col(vec_col))


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: ``num_tables`` independent hyperplane tables;
    a corpus vector is a candidate if it shares a bucket with the query
    in ANY table. All table signatures come from ONE Arrow matmul pass
    per side; (table, bucket) is exploded so the candidate join is a
    single equi-join on (table, bucket) — one shuffle total, never a
    cross product. Exact cosine + top-k window over candidates only."""

    def _tagged(side, tag):
        sigs = lsh_multitable_signatures(f"__{tag}vec", dim, num_planes, num_tables)
        return side.withColumn("__sigs", sigs).select(
            *side.columns, F.posexplode("__sigs").alias("__table", "__bucket")
        )

    qt = _tagged(_side(queries, query_id, vec_col, "q"), "q")
    ct = _tagged(_side(corpus, corpus_id, vec_col, "c"), "c")
    cand = (
        qt.join(ct, ["__table", "__bucket"])
        .drop("__table", "__bucket")
        .filter(F.col("__qid") != F.col("__cid"))
        .dropDuplicates(["__qid", "__cid"])
    )
    scored = cand.withColumn("cosine", _rounded_cosine())
    return _ranked(scored, "cosine", k, query_id, "cosine")


# ------------------------------------------------------------- IVF ANN ----
# The IVF quantizer is fitted on at most this many sampled vectors.
_IVF_FIT_ROWS = 100_000


def ivf_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    num_cells: int = 16,
):
    """Train an IVF coarse quantizer (distributed k-means via
    pyspark.ml, seed 42) and return (assigned_corpus, model): the
    corpus with a ``__cell`` column — at scale you'd write it
    partitioned by cell.

    The quantizer is fitted on a bounded deterministic sample
    (``_IVF_FIT_ROWS``): coarse cells only need the density SHAPE, so
    fitting on 100 TB of vectors buys nothing over ~1e5 of them — the
    standard FAISS-style train-on-sample. Cell ASSIGNMENT still covers
    the full corpus (one model.transform pass)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
    n = feat.count()
    fit_set = (
        feat.sample(fraction=min(1.0, _IVF_FIT_ROWS / n), seed=42)
        if n > _IVF_FIT_ROWS
        else feat
    )
    model = KMeans(
        k=num_cells,
        seed=42,
        maxIter=5,  # coarse quantizer: rough cells are fine (recall
        # is governed by nprobe, not centroid polish — halves the
        # build time with no measured recall change)
        featuresCol="__features",
        predictionCol="__cell",
    ).fit(fit_set)
    assigned = model.transform(feat).drop("__features")
    return assigned, model


def ivf_topk(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    model,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search only the ``nprobe`` nearest cells per query: candidate set
    shrinks by ~num_cells/nprobe vs brute force; one equi-join on cell."""
    from pyspark.ml.functions import array_to_vector

    centers = model.clusterCenters()
    centers_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centers)],
            "__cell int, __center array<double>",
        )
    )
    q = _side(queries, query_id, vec_col, "q")
    # nprobe nearest centroids per query (tiny crossJoin: |Q| × cells),
    # ranked by TRUE euclidean proximity: argmin |q-c|² == argmax
    # (q·c - ½|c|²) since |q|² is constant per query. Ranking by raw
    # dot product alone is NOT the k-means assignment metric — a
    # query's own cell could drop out of its probe list (caught by the
    # q185 incremental-update gate at nprobe=2).
    probes = q.crossJoin(centers_df).withColumn(
        "__d",
        dot(F.col("__qvec"), F.col("__center"))
        - 0.5 * dot(F.col("__center"), F.col("__center")),
    )
    qc = ranked_top_k(
        probes, nprobe, [F.col("__d").desc()], ["__qid"], "__r"
    ).select("__qid", "__qvec", "__qnorm", "__cell")
    c = _side(assigned_corpus, corpus_id, vec_col, "c", "__cell")
    scored = (
        qc.join(c, "__cell")
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine", _rounded_cosine())
    )
    return _ranked(scored, "cosine", k, query_id, "cosine")


# ------------------------------------------------- embedding near-dup ----
def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    *,
    block_cols,
) -> DataFrame:
    """Pairs with cosine >= threshold, exact within the blocks of
    ``block_cols`` (oracle-checkable): only rows sharing every block
    value are compared, so the blocking key is the pruning (a label, or
    an IVF cell as in q163's SemDeDup).

    The pairwise scoring runs as ONE BLAS matmul per block
    (grouped applyInPandas, Arrow-batched): a JVM join producing
    |block|² rows with an interpreted per-pair array fold was ~10x
    slower at 10k vectors. One shuffle on the block key; a block must
    fit one task's memory (|block| x dim doubles + |block|² scores) —
    for larger blocks, subdivide via additional block cols."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        *[F.col(c) for c in block_cols],
    )

    out_fields = ["id_a bigint", "id_b bigint"]
    for c in block_cols:
        out_fields.append(f"{c} {base.schema[c].dataType.simpleString()}")
    out_fields.append("cosine double")
    schema = ", ".join(out_fields)

    def pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        mat = np.vstack(pdf["__vec"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ mat.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), k=1)
        cos = np.round(sims[ia, ib], 6)
        keep = cos >= threshold
        out = {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]]}
        for c, v in zip(block_cols, key):
            out[c] = v
        out["cosine"] = cos[keep]
        return pd.DataFrame(out, columns=["id_a", "id_b", *block_cols, "cosine"])

    return base.groupBy(*block_cols).applyInPandas(pairs, schema)


# --------------------------------------------------- ANN recall gate ----
def ann_recall_report(
    ann: DataFrame,
    exact: DataFrame,
    query_id: str,
    k: int,
    floor: float,
) -> DataFrame:
    """Quantitative ANN quality gate: per-query recall@k of ``ann``
    against the ``exact`` top-k (both ranked with the same rounded
    cosine + id tie-break, so recall is deterministic), aggregated to a
    single scalar row ``(n_queries, k, recall_floor_met)``.

    The DuckDB oracle asserts the expected constants. ``recall_floor_met``
    is true when at least 90% of queries recover ``floor * k`` of their
    true neighbors — a scale-robust contract (the per-query hit counts
    shift slightly with corpus size, so pinning the exact ok-count would
    tie the oracle to one sf; a real regression in the signature matmul,
    banding, or candidate join tanks recall across many queries and
    flips the boolean). This turns "approximate" from unverifiable into
    a checked contract."""
    a = ann.select(
        F.col(query_id).alias("__qid"), F.col("neighbor_id").alias("__nid")
    )
    e = exact.select(
        F.col(query_id).alias("__qid"), F.col("neighbor_id").alias("__nid")
    )
    hits = a.join(e, ["__qid", "__nid"]).groupBy("__qid").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    per_q = (
        e.select("__qid")
        .distinct()
        .join(hits, "__qid", "left")
        .select(F.coalesce("__hits", F.lit(0)).alias("__hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
        (
            F.sum((F.col("__hits") >= F.lit(floor) * k).cast("int"))
            >= F.count(F.lit(1)) * 0.9
        ).alias("recall_floor_met"),
    )


# ------------------------------------------------- hybrid retrieval ----
def hybrid_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Hybrid retrieval: ``0.5 * cosine + 0.5 * token-Jaccard``.

    The lexical leg (token-set Jaccard) catches exact keyword matches
    that embedding geometry can miss; the vector leg catches paraphrase.
    Both legs are JVM expressions over one broadcast(queries) × corpus
    scan — same single-pass cost shape as ``cosine_topk``; at scale the
    corpus side comes pre-filtered (as in q102) or bucketed.
    Scores are rounded before ranking so ordering is engine-stable.
    """
    from python_tool_setup_spark.llm.text import tokenize

    q = F.broadcast(
        _side(
            queries, query_id, vec_col, "q",
            F.array_distinct(tokenize(text_col)).alias("__qtoks"),
        )
    )
    c = _side(
        corpus, corpus_id, vec_col, "c",
        F.array_distinct(tokenize(text_col)).alias("__ctoks"),
    )
    inter = F.size(F.array_intersect("__qtoks", "__ctoks"))
    uni = F.size(F.array_union("__qtoks", "__ctoks"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine", _rounded_cosine())
        .withColumn(
            "lexical",
            # scale-first round (q208 class): int/int ratio with
            # decimal-reachable scale-6 ties
            F.round(1000000 * (inter / F.greatest(uni, F.lit(1))))
            / 1000000.0,
        )
        .withColumn(
            "score",
            # scale-first round: a 0.5/0.5 mix of two 6-dec values has
            # an EXACT decimal tie whenever the 7th digit lands on 5 —
            # the most reachable ROUND(x, 6) knife edge in the repo
            F.round(
                1000000
                * (
                    F.lit(0.5) * F.col("cosine")
                    + F.lit(0.5) * F.col("lexical")
                )
            )
            / 1000000.0,
        )
    )
    return _ranked(scored, "score", k, query_id, "cosine", "lexical", "score")


def embedding_minmax(df: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension global min/max of an embedding column. One
    posexplode + partial-aggregated groupBy(dim); the collect is
    bounded by the dimensionality, never the row count."""
    stats = (
        df.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    dim = len(stats)
    mins, maxes = [0.0] * dim, [0.0] * dim
    for r in stats:
        mins[r["i"]], maxes[r["i"]] = float(r["mn"]), float(r["mx"])
    return mins, maxes


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of an embedding
    column, plus the per-vector reconstruction MSE — the standard 4x
    storage/bandwidth compression in front of ANN indexes (IVF/LSH in
    this module consume either precision).

    All JVM-side: the codebook is 2*dim literals folded into a single
    ``transform`` over the array; quantize + dequantize + error are
    scan-stage expressions with zero shuffle and zero Python. The
    two-pass shape (tiny stats agg, then map) is exactly how a 100 TB
    quantization job wants to run; for single-pass pipelines the stats
    can come from a sample or a prior batch instead.
    """
    mins, maxes = embedding_minmax(df, vec_col)
    mn = F.array(*[F.lit(v).cast("double") for v in mins])
    rng = F.array(
        *[
            F.lit((mx - mv) if mx > mv else 1.0).cast("double")
            for mv, mx in zip(mins, maxes)
        ]
    )
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))

    def q_of(xi, i):
        return F.round(
            (xi - F.element_at(mn, i + 1))
            * F.lit(float(levels))
            / F.element_at(rng, i + 1)
        )

    quant = F.transform(x, lambda xi, i: q_of(xi, i).cast("int"))
    # dequantized value and squared error, folded left-to-right so the
    # FP sum order is deterministic (and mirrors the oracle's fold)
    def err_of(xi, i):
        # plain subtract/multiply/divide: IEEE exactly-rounded, so the
        # oracle engine computes bit-identical doubles (pow() would not)
        d = xi - (
            q_of(xi, i) * F.element_at(rng, i + 1) / F.lit(float(levels))
            + F.element_at(mn, i + 1)
        )
        return d * d

    sq = F.transform(x, err_of)
    mse = F.aggregate(
        sq, F.lit(0.0), lambda acc, v: acc + v
    ) / F.size(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.array_join(
            F.transform(quant, lambda q: q.cast("string")), "|"
        ).alias("quant"),
        # scale-first round (q208 recipe): ROUND(x, 9) of a computed
        # double resolves near-midpoint values differently per engine
        # even when x is bit-identical; the scale-0 round agrees
        (F.round(1000000000 * mse) / 1000000000.0).alias("mse"),
    )
