"""Streaming-depth gates, batch 6: micro-batch granularity invariance
under rate limiting (q138), plus a transformWithStateInPandas gate
(q152) that registers itself only where google.protobuf — the state
server protocol dependency — is importable.
"""

from __future__ import annotations

import importlib.util
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table
from python_tool_setup_spark.staging import staging_dir


# ---------------------------------------------------------------- q138
_CHUNKED: dict[str, str] = {}
_N_CHUNKS = 4


def _chunked_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as _N_CHUNKS single-file parquet drops (by event_id
    range) so maxFilesPerTrigger=1 yields exactly _N_CHUNKS non-empty
    micro-batches."""
    path = _CHUNKED.get(sf_dir)
    if path is None:
        path = staging_dir("ratelim_")
        ev = load_table(spark, sf_dir, "events")
        hi = ev.agg(F.max("event_id")).collect()[0][0] + 1
        step = (hi + _N_CHUNKS - 1) // _N_CHUNKS
        for i in range(_N_CHUNKS):
            (
                ev.filter(
                    (F.col("event_id") >= i * step)
                    & (F.col("event_id") < (i + 1) * step)
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(path)
            )
        _CHUNKED[sf_dir] = path
    return path


@register(
    "q138_rate_limited_drain",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value,
           CAST({_N_CHUNKS} AS BIGINT) AS n_batches
    FROM events
    GROUP BY event_type
    """,
    doc="Micro-batch granularity invariance: the events table is "
    "staged as 4 file drops and drained with maxFilesPerTrigger=1 — "
    "4 rate-limited micro-batches instead of one bulk pass — and the "
    "final aggregate is byte-identical to the batch answer, with the "
    "non-empty batch count surfaced from query progress. This is the "
    "backfill-vs-live contract incremental pipelines depend on: "
    "results must not depend on how the stream was chopped.",
)
def q138_rate_limited_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    path = _chunked_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = f"q138_{uuid.uuid4().hex[:8]}"
    ckpt = staging_dir("ckpt_q138_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).select(
        "event_type",
        "n",
        "total_value",
        F.lit(n_batches).cast("bigint").alias("n_batches"),
    )


# ------------------------------------------------- transformWithState
# Registered CONDITIONALLY: Spark 4's transformWithStateInPandas
# requires google.protobuf for its state-server protocol. Where
# protobuf is importable the gate below registers itself and the
# driver verifies it against the batch oracle; in this container
# (protobuf absent, no installs allowed) registration is skipped and
# q54 (applyInPandasWithState) remains the arbitrary-state gate.
def transform_with_state_running_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from python_tool_setup_spark.queries.streaming import _drain, _events_stream

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "cnt long, sm double"
            )

        def handleInputRows(self, key, rows, timerValues):
            cnt, sm = 0, 0.0
            if self._totals.exists():
                cnt, sm = self._totals.get()
            for pdf in rows:
                cnt += len(pdf)
                sm += float(pdf["value"].sum())
            self._totals.update((cnt, sm))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "total_value": [round(sm, 2)],
                }
            )

        def close(self) -> None:
            pass

    stream, _ = _events_stream(spark, sf_dir)
    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )
    drained = _drain(out, "update")
    # update-mode sink keeps one row per (key, batch); the running
    # totals are cumulative, so the final state per key is the row
    # with the highest event count
    from python_tool_setup_spark.operators.relational import dedup_by_keys

    return dedup_by_keys(drained, ["user_id"], [F.col("n_events").desc()])


def _has_protobuf() -> bool:
    try:  # find_spec raises if the parent 'google' package is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


if _has_protobuf():  # pragma: no cover
    register(
        "q152_transform_with_state",
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        """,
        doc="Spark 4 transformWithStateInPandas running totals "
        "(ValueState per user), drained availableNow and reduced to "
        "final state per key. Registers only where google.protobuf "
        "(the state-server protocol dependency) is importable.",
    )(transform_with_state_running_totals)


# ---------------------------------------------------------------- q140
@register(
    "q140_grouped_statistics",
    f"""
    WITH s AS (
        -- exact integer moments (q212 recipe): the engines' built-in
        -- corr/covar/stddev accumulate doubles in different orders
        -- (drift), and the scale-4/6 final ROUNDs then sit one ulp
        -- from a flip; integer sums (quantity is integer, price and
        -- discount are exact cents) are order-free, so every moment
        -- below is bit-identical across engines
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sq,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sq2,
               SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT)) AS sc,
               SUM(CAST(CAST(ROUND(100 * l_extendedprice) AS BIGINT)
                        AS HUGEINT)
                   * CAST(ROUND(100 * l_extendedprice) AS BIGINT)) AS sc2,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(ROUND(100 * l_extendedprice) AS BIGINT)) AS sqc
        FROM lineitem GROUP BY l_returnflag
    ),
    mm AS (
        SELECT l_returnflag, n,
               {dd_duck("CAST(n AS HUGEINT) * sqc"
                         " - CAST(sq AS HUGEINT) * sc")} AS covnum,
               {dd_duck("CAST(n AS HUGEINT) * sq2"
                         " - CAST(sq AS HUGEINT) * sq")} AS qvarnum,
               {dd_duck("CAST(n AS HUGEINT) * sc2"
                         " - CAST(sc AS HUGEINT) * sc")} AS cvarnum
        FROM s
    ),
    d2 AS (
        SELECT l_returnflag,
               SUM(CAST(ROUND(100 * l_discount) AS BIGINT)) AS sd,
               SUM(CAST(ROUND(100 * l_discount) AS BIGINT)
                   * CAST(ROUND(100 * l_discount) AS BIGINT)) AS sd2,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT mm.l_returnflag,
           -- scale-first rounds (q208 recipe) of bit-identical doubles
           ROUND(1000000 * (covnum / SQRT(qvarnum * cvarnum)))
               / 1000000.0 AS price_qty_corr,
           ROUND(10000 * (covnum
                 / (CAST(mm.n AS DOUBLE) * mm.n * 100))) / 10000.0
               AS price_qty_cov,
           ROUND(1000000 * SQRT(
                 {dd_duck("CAST(d2.n AS HUGEINT) * sd2"
                          " - CAST(sd AS HUGEINT) * sd")}
                 / (CAST(d2.n AS DOUBLE) * d2.n * 10000))) / 1000000.0
               AS discount_sd,
           ROUND(1000000 * (covnum / (100 * qvarnum))) / 1000000.0
               AS ols_slope
    FROM mm JOIN d2 USING (l_returnflag)
    """,
    doc="Grouped statistical aggregates: Pearson correlation, "
    "population covariance/stddev, and the OLS trend slope "
    "(cov/var) per return flag — all computed as single-pass "
    "mergeable moment aggregates (sum, sum-of-squares, cross-sum), "
    "so they partial-aggregate map-side and merge like any sum; the "
    "moment formulation is what makes per-key statistics tractable "
    "at 100 TB.",
)
def q140_grouped_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # exact integer moments mirroring the oracle op-for-op: see the
    # oracle comment (decimal(38,0) plays DuckDB's HUGEINT)
    q = F.col("l_quantity").cast("long")
    c = cents(F.col("l_extendedprice"))
    d = cents(F.col("l_discount"))
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sq2"),
        F.sum(c).alias("sc"),
        F.sum(c.cast("decimal(38,0)") * c).alias("sc2"),
        F.sum(q * c).alias("sqc"),
        F.sum(d).alias("sd"),
        F.sum(d * d).alias("sd2"),
    )
    n38 = F.col("n").cast("decimal(38,0)")
    covnum = (
        n38 * F.col("sqc") - F.col("sq").cast("decimal(38,0)") * F.col("sc")
    ).cast("double")
    qvarnum = (
        n38 * F.col("sq2") - F.col("sq").cast("decimal(38,0)") * F.col("sq")
    ).cast("double")
    cvarnum = (
        n38 * F.col("sc2") - F.col("sc").cast("decimal(38,0)") * F.col("sc")
    ).cast("double")
    dvarnum = (
        n38 * F.col("sd2") - F.col("sd").cast("decimal(38,0)") * F.col("sd")
    ).cast("double")
    n_d = F.col("n").cast("double")
    return s.select(
        "l_returnflag",
        # scale-first rounds of bit-identical doubles
        (F.round(1000000 * (covnum / F.sqrt(qvarnum * cvarnum))) / 1000000.0)
            .alias("price_qty_corr"),
        (F.round(10000 * (covnum / (n_d * F.col("n") * 100))) / 10000.0)
            .alias("price_qty_cov"),
        (
            F.round(
                1000000
                * F.sqrt(dvarnum / (n_d * F.col("n") * 10000))
            )
            / 1000000.0
        ).alias("discount_sd"),
        (F.round(1000000 * (covnum / (100 * qvarnum))) / 1000000.0).alias(
            "ols_slope"
        ),
    )


# ---------------------------------------------------------------- q141
@register(
    "q141_length_histogram",
    """
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
    )
    SELECT CAST(CASE WHEN n_tok >= 200 THEN 11
                     ELSE n_tok // 20 + 1 END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok
    FROM toks
    GROUP BY 1
    """,
    doc="Sequence-length histogram (width_bucket, 10 equal bins over "
    "[0,200) plus overflow bin 11): the length distribution that "
    "drives training batch sizing and packing efficiency, computed "
    "as one scan + one tiny aggregate — bucket assignment is a pure "
    "projection, the shuffle carries at most n_buckets rows per "
    "partition after map-side partial aggregation.",
)
def q141_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda t: t != F.lit(""),
        )
    )
    return (
        d.select(F.width_bucket(n_tok, F.lit(0), F.lit(200), F.lit(10)).alias("bucket"),
                 n_tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tok").cast("bigint").alias("min_tok"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"),
                "n_docs", "min_tok", "max_tok")
    )


# ---------------------------------------------------------------- q142
@register(
    "q142_conditional_aggregates",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_large,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Modern conditional-aggregate surface: count_if / bool_and / "
    "bool_or per priority class — predicate aggregation without CASE "
    "scaffolding, all mergeable single-pass aggregates.",
)
def q142_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000)
        .cast("bigint")
        .alias("n_large"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )


# ---------------------------------------------------------------- q143
@register(
    "q143_winsorize",
    """
    WITH cuts AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.01), 4) AS lo,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(count_if(l_extendedprice < lo) AS BIGINT) AS n_clipped_low,
           CAST(count_if(l_extendedprice > hi) AS BIGINT) AS n_clipped_high,
           -- exact integer units + scale-first round (q212/q208
           -- recipes): money AVGs are order-dependent double sums
           -- over a rational that can tie on a decimal boundary; the
           -- clip boundary is a 4-decimal value, so 1e4 units are
           -- exact per row on both engines
           ROUND(100 * AVG(CAST(ROUND(100 * l_extendedprice)
                 AS BIGINT))) / 10000.0 AS mean_raw,
           ROUND(AVG(CAST(ROUND(10000 * LEAST(GREATEST(l_extendedprice,
                 lo), hi)) AS BIGINT))) / 10000.0
               AS mean_winsorized
    FROM lineitem l JOIN cuts USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc="Percentile winsorization (clip features at p01/p99 — the "
    "standard outlier treatment before model-feature export): "
    "per-group cutoffs come from one exact-percentile aggregate "
    "(group-count-sized, broadcast back), rounded to 4 decimals on "
    "both engines so the clip boundary is engine-exact; clipping "
    "itself is a scan-stage LEAST/GREATEST projection. At 100 TB the "
    "cutoff step swaps to approx_percentile (q67 bounds the error) "
    "with the identical downstream plan.",
)
def q143_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.01), F.lit(0.99))
    )
    cuts = li.groupBy("l_returnflag").agg(pcts.alias("__p")).select(
        "l_returnflag",
        F.round(F.col("__p")[0], 4).alias("lo"),
        F.round(F.col("__p")[1], 4).alias("hi"),
    )
    j = li.join(F.broadcast(cuts), "l_returnflag")
    clip = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("l_extendedprice") < F.col("lo"))
        .cast("bigint")
        .alias("n_clipped_low"),
        F.count_if(F.col("l_extendedprice") > F.col("hi"))
        .cast("bigint")
        .alias("n_clipped_high"),
        # exact integer units + scale-first: see the oracle comment
        (
            F.round(100 * F.avg(cents(F.col("l_extendedprice")))) / 10000.0
        ).alias("mean_raw"),
        (F.round(F.avg(F.round(10000 * clip).cast("long"))) / 10000.0).alias(
            "mean_winsorized"
        ),
    )


# ---------------------------------------------------------------- q144
@register(
    "q144_cdc_apply",
    """
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey < 1000
    ),
    log AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'delete'
                    ELSE 'upsert' END AS _op,
               'X' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
    )
    SELECT t.o_orderkey,
           COALESCE(l.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(l.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM target t LEFT JOIN log l USING (o_orderkey)
    WHERE l._op IS NULL OR l._op = 'upsert'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM log l
    WHERE l._op = 'upsert'
      AND NOT EXISTS (SELECT 1 FROM target t
                      WHERE t.o_orderkey = l.o_orderkey)
    """,
    doc="CDC log application with DELETE semantics (the "
    "whenMatchedDelete arm plain upsert-MERGE lacks): a change log of "
    "upserts and deletes compacts onto the snapshot in one pass — "
    "unchanged keys kept via anti-join, upserts replace-or-append, "
    "deletes remove. Shuffles key on the merge key only; CDC volume, "
    "not table size, drives incremental-apply cost.",
)
def q144_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.operators.merge import merge_apply_cdc

    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    log = (
        o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 5 == 0, "delete")
            .otherwise("upsert")
            .alias("_op"),
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
    )
    return merge_apply_cdc(target, log, keys=["o_orderkey"], op_col="_op")


# ---------------------------------------------------------------- q145
_DV_BASE: dict[str, str] = {}


@register(
    "q145_deletion_vectors",
    """
    WITH live AS (
        SELECT * FROM lineitem WHERE NOT (l_quantity > 45)
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_extendedprice) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS live_price,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_quantity > 45) AS n_deleted
    FROM live
    GROUP BY l_returnflag
    """,
    doc="Deletion vectors (merge-on-read soft delete): deleting "
    "l_quantity > 45 writes only a (file, row_index) tombstone "
    "sidecar — no data file is rewritten — and readers apply it as a "
    "broadcast anti-join on the scan's metadata columns. The "
    "read-back equals a hard-filtered table exactly; compaction "
    "(q61) later folds tombstones into data, amortized. The "
    "copy-on-write alternative rewrites every touched file per "
    "delete.",
)
def q145_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:

    from python_tool_setup_spark.operators.deletevec import (
        build_deletion_vector,
        read_with_deletion_vector,
    )

    base = _DV_BASE.get(sf_dir)
    if base is None:
        base = staging_dir("dv_")
        load_table(spark, sf_dir, "lineitem").write.parquet(base + "/t")
        _DV_BASE[sf_dir] = base
    dv_path = staging_dir("dv_sidecar_") + "/dv"
    dv = build_deletion_vector(
        spark, base + "/t", F.col("l_quantity") > 45
    )
    dv.write.parquet(dv_path)  # the sidecar IS the delete commit
    dv_read = spark.read.parquet(dv_path)
    n_deleted = dv_read.count()
    live = read_with_deletion_vector(spark, base + "/t", dv_read)
    return live.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live"),
        F.round(F.sum(cents(F.col("l_extendedprice"))).cast("double") / 100, 2).alias("live_price"),
    ).select(
        "l_returnflag",
        "n_live",
        "live_price",
        F.lit(n_deleted).cast("bigint").alias("n_deleted"),
    )


# ---------------------------------------------------------------- q146
@register(
    "q146_orphan_cleanup",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           CAST(1 AS BIGINT) AS n_orphans_removed,
           CAST(2 AS BIGINT) AS n_versions_kept
    FROM nation
    """,
    doc="Orphan-file cleanup (Iceberg remove_orphan_files shape): a "
    "writer that crashes between snapshot and manifest swap leaves an "
    "unreferenced version dir; cleanup lists ONE directory level, "
    "removes exactly the dirs the manifest does not reference, and "
    "committed data is untouched — the readback still equals the "
    "source. Metadata-only work: no data file is ever read.",
)
def q146_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:

    from python_tool_setup_spark.ingestion.versioned import (
        clean_orphans,
        list_versions,
        read_version,
        write_version,
    )

    n = load_table(spark, sf_dir, "nation")
    table = staging_dir("orphan_") + "/t"
    write_version(spark, n, table)
    write_version(spark, n.filter(F.col("n_nationkey") >= 0), table)
    # simulate a crashed writer: snapshot dir exists (real 'v=<N>'
    # layout, same as _version_dir writes), never committed
    n.limit(3).write.parquet(table + "/v=99")
    removed = clean_orphans(spark, table)
    assert removed == ["v=99"], removed
    kept = list_versions(spark, table)
    latest = read_version(spark, table)
    return latest.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    ).select(
        "n_rows",
        "key_sum",
        F.lit(len(removed)).cast("bigint").alias("n_orphans_removed"),
        F.lit(len(kept)).cast("bigint").alias("n_versions_kept"),
    )


# ---------------------------------------------------------------- q147
@register(
    "q147_degenerate_inputs",
    """
    SELECT CAST(0 AS BIGINT) AS empty_agg_rows,
           CAST(0 AS BIGINT) AS empty_dedup_rows,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS merge_vs_empty,
           CAST(0 AS BIGINT) AS empty_join_rows
    """,
    doc="Degenerate-input robustness: aggregation, dedup, MERGE, and "
    "join over EMPTY relations return empty/identity results instead "
    "of erroring — the guarantee incremental pipelines need on quiet "
    "partitions (a day with no data must be a no-op, not a crash).",
)
def q147_degenerate_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_tool_setup_spark.llm.dedup import exact_dedup
    from python_tool_setup_spark.operators.merge import merge_upsert

    n = load_table(spark, sf_dir, "nation")
    empty = n.filter(F.lit(False))
    empty_agg = (
        empty.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .count()
    )
    docs_empty = empty.select(
        F.col("n_nationkey").alias("doc_id"),
        F.col("n_name").alias("text"),
    )
    empty_dedup = exact_dedup(docs_empty, ["text"]).count()
    merged = merge_upsert(n, empty, keys=["n_nationkey"]).count()
    empty_join = empty.join(n, "n_nationkey").count()
    return spark.createDataFrame(
        [(empty_agg, empty_dedup, merged, empty_join)],
        "empty_agg_rows long, empty_dedup_rows long, "
        "merge_vs_empty long, empty_join_rows long",
    )


# ---------------------------------------------------------------- q148
@register(
    "q148_ordered_string_agg",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (LISTAGG / string_agg WITHIN "
    "GROUP): per-region nation roster concatenated in a DETERMINISTIC "
    "order — collect_list alone is partition-order-dependent, so the "
    "list is sorted before joining, making the result reproducible at "
    "any parallelism. The reporting surface every summary export "
    "needs.",
)
def q148_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------- q149
@register(
    "q149_mad_outliers",
    """
    WITH med AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS med
        FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
        SELECT l.l_returnflag,
               ROUND(quantile_cont(ABS(l_extendedprice - med), 0.5), 4)
                   AS mad
        FROM lineitem l JOIN med USING (l_returnflag)
        GROUP BY l.l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(count_if(ABS(l_extendedprice - med.med) > 3 * mad.mad)
                AS BIGINT) AS n_outliers,
           med.med, mad.mad
    FROM lineitem l
    JOIN med USING (l_returnflag)
    JOIN mad USING (l_returnflag)
    GROUP BY l.l_returnflag, med.med, mad.mad
    """,
    doc="Robust outlier detection via median absolute deviation "
    "(|x − median| > 3·MAD — immune to the outliers themselves, "
    "unlike the z-score path in q105): two exact-percentile "
    "aggregates produce group-count-sized cutoff tables, broadcast "
    "back for a scan-stage flag; both cutoffs are rounded to 4 "
    "decimals on both engines so the comparison boundary is exact. "
    "At 100 TB the percentile step swaps to approx_percentile with "
    "the identical downstream plan.",
)
def q149_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MAD is inherently 3-pass (median -> deviations -> flags): pin the
    # narrow 2-column base so lineitem is scanned once, not three times
    # (the q482 grouped-MAD precedent).
    li = pin(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("med")
    )
    j1 = li.join(F.broadcast(med), "l_returnflag")
    mad = j1.groupBy("l_returnflag").agg(
        F.round(
            F.percentile(
                F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5)
            ),
            4,
        ).alias("mad")
    )
    j2 = j1.join(F.broadcast(mad), "l_returnflag")
    return j2.groupBy("l_returnflag", "med", "mad").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(
            F.abs(F.col("l_extendedprice") - F.col("med"))
            > 3 * F.col("mad")
        )
        .cast("bigint")
        .alias("n_outliers"),
    ).select("l_returnflag", "n", "n_outliers", "med", "mad")


# ---------------------------------------------------------------- q150
@register(
    "q150_linear_interpolation",
    """
    WITH base AS (
        SELECT event_id, user_id, epoch_ms(ts) AS ts_s,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    ctx AS (
        SELECT event_id, user_id, ts_s, v,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN ts_s END
                          IGNORE NULLS) OVER w_prev AS pt,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN ts_s END
                           IGNORE NULLS) OVER w_next AS nt
        FROM base
        WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts_s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
               w_next AS (PARTITION BY user_id ORDER BY ts_s, event_id
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           -- scale-first round (q208 recipe): the interpolated value
           -- is a 2-dec-by-rational product with decimal-reachable
           -- ties that ROUND(x, 6) resolves differently per engine
           ROUND(1000000 * (CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               WHEN nt = pt THEN pv
               ELSE pv + (nv - pv) * (ts_s - pt) / (nt - pt)
           END)) / 1000000.0 AS v_filled,
           (v IS NULL) AS was_imputed
    FROM ctx
    """,
    doc="Grouped linear interpolation of missing values (the "
    "time-series imputation step after q108's LOCF): every 7th "
    "event's value is nulled, then filled by interpolating between "
    "the nearest non-null neighbors in event time (boundary rows "
    "back/forward fill). Two IGNORE-NULLS window passes per "
    "direction over (user, time, id) — one shuffle on user_id, "
    "deterministic total order, identical frames in both engines.",
)
def q150_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_s"),
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nn_ts = F.when(F.col("v").isNotNull(), F.col("ts_s"))
    ctx = ev.select(
        "event_id",
        "v",
        "ts_s",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(nn_ts, ignorenulls=True).over(w_prev).alias("pt"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(nn_ts, ignorenulls=True).over(w_next).alias("nt"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("ts_s") - F.col("pt"))
            / (F.col("nt") - F.col("pt"))
        )
    )
    return ctx.select(
        "event_id",
        # scale-first round: see the oracle comment
        (F.round(1000000 * filled) / 1000000.0).alias("v_filled"),
        F.col("v").isNull().alias("was_imputed"),
    )


# ---------------------------------------------------------------- q151
@register(
    "q151_schema_drift_union",
    """
    WITH v1 AS (
        SELECT doc_id, lang, NULL AS quality FROM documents
        WHERE doc_id % 2 = 0
    ),
    v2 AS (
        SELECT doc_id, lang,
               ROUND(n_chars / 100.0, 6) AS quality
        FROM documents WHERE doc_id % 2 = 1
    ),
    unioned AS (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(count_if(quality IS NULL) AS BIGINT) AS n_v1,
           ROUND(COALESCE(SUM(quality), 0.0), 6) AS quality_sum
    FROM unioned
    GROUP BY lang
    """,
    doc="Schema-drift union on read (unionByName with "
    "allowMissingColumns): two generations of the same feed — v2 "
    "adds a quality column v1 never had — combine into one relation "
    "with nulls backfilled for the missing column, the read-side "
    "complement of write-side evolution (q60 mergeSchema, q133 "
    "merge autoMerge). No rewrite of historical data, no scan "
    "beyond the union itself.",
)
def q151_schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.round(F.col("n_chars") / 100.0, 6).alias("quality"),
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("quality").isNull()).cast("bigint").alias("n_v1"),
        F.round(F.coalesce(F.sum("quality"), F.lit(0.0)), 6).alias(
            "quality_sum"
        ),
    )
