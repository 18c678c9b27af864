"""Streaming tests (SURVEY.md §2.3 T1-T5): autoloader-equivalent file
ingestion with checkpoint resume + schema evolution, event-time
windows (batch/stream equivalence), streaming dedup."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from python_tool_setup_spark.config import IngestionConfig
from python_tool_setup_spark.ingestion import make_ingestion
from python_tool_setup_spark.streaming import (
    session_window_agg,
    streaming_dedup,
    tumbling_window_agg,
)


def write_json(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _stream_cfg(src, target, ckpt, **kw):
    return IngestionConfig(
        source_path=src,
        source_format="json",
        target_path=target,
        ingest_mode="stream",
        checkpoint_path=ckpt,
        **kw,
    )


# ------------------------------------------------- T1: incremental files ----
def test_autoloader_incremental_with_checkpoint(spark, tmp_path):
    src = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_json(f"{src}/f1.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
    assert spark.read.parquet(target).count() == 2

    # second run with NO new files: checkpoint prevents re-ingestion
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
    assert spark.read.parquet(target).count() == 2

    # drop a new file: only it is ingested
    write_json(f"{src}/f2.json", [{"id": 3, "v": "c"}])
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
    back = spark.read.parquet(target)
    assert back.count() == 3
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]


# ------------------------------------------------- T2: schema evolution ----
def test_autoloader_schema_evolution(spark, tmp_path):
    src = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_json(f"{src}/f1.json", [{"id": 1, "v": "a"}])
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()

    # new column appears in later files; registry must evolve additively
    write_json(f"{src}/f2.json", [{"id": 2, "v": "b", "extra": 7}])
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
    back = spark.read.option("mergeSchema", "true").parquet(target)
    assert "extra" in back.columns
    got = {r["id"]: r["extra"] for r in back.collect()}
    assert got == {1: None, 2: 7}

    # registry file persisted the evolved schema
    reg = json.load(open(f"{ckpt}/_schema/schema.json"))
    assert {f["name"] for f in reg["fields"]} == {"id", "v", "extra"}


def test_autoloader_managed_table(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    write_json(f"{src}/f1.json", [{"id": 1}])
    cfg = IngestionConfig(
        source_path=src,
        source_format="json",
        database="streamdb",
        table="managed_stream",
        ingest_mode="stream",
        checkpoint_path=ckpt,
    )
    make_ingestion(spark, cfg).run()
    assert spark.table("streamdb.managed_stream").count() == 1


# ------------------------------------- T4: windows, batch/stream parity ----
def _events_df(spark):
    rows = [
        (1, "2024-01-01 00:00:30", "u1", 1.0),
        (2, "2024-01-01 00:01:10", "u1", 2.0),
        (3, "2024-01-01 00:05:00", "u1", 3.0),
        (4, "2024-01-01 00:00:45", "u2", 4.0),
        (5, "2024-01-01 00:20:00", "u2", 5.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts_str string, user string, value double"
    ).withColumn("ts", F.col("ts_str").cast("timestamp"))


def test_tumbling_window_batch(spark):
    out = tumbling_window_agg(
        _events_df(spark),
        "ts",
        "5 minutes",
        group_cols=["user"],
        aggs=[F.sum("value").alias("s"), F.count("*").alias("n")],
    )
    got = {
        (r["user"], str(r["window"]["start"])): (r["s"], r["n"])
        for r in out.collect()
    }
    assert got[("u1", "2024-01-01 00:00:00")] == (3.0, 2)
    assert got[("u1", "2024-01-01 00:05:00")] == (3.0, 1)
    assert got[("u2", "2024-01-01 00:20:00")] == (5.0, 1)


def test_session_window_batch(spark):
    out = session_window_agg(
        _events_df(spark),
        "ts",
        "2 minutes",
        group_cols=["user"],
        aggs=[F.count("*").alias("n")],
    )
    got = sorted((r["user"], r["n"]) for r in out.collect())
    # u1: events at 00:00:30,00:01:10 chain one session; 00:05 separate
    assert got == [("u1", 1), ("u1", 2), ("u2", 1), ("u2", 1)]


def test_stream_batch_window_equivalence(spark, tmp_path):
    """The same tumbling agg over the same rows, run as a real stream
    with watermark, must equal the batch result (availableNow drain)."""
    src = str(tmp_path / "events_in")
    df = _events_df(spark).select("event_id", "ts", "user", "value")
    df.coalesce(1).write.json(src)

    stream = (
        spark.readStream.format("json")
        .schema("event_id long, ts timestamp, user string, value double")
        .load(src)
    )
    agg = tumbling_window_agg(
        stream,
        "ts",
        "5 minutes",
        group_cols=["user"],
        aggs=[F.sum("value").alias("s"), F.count("*").alias("n")],
        watermark="10 minutes",
    ).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "user",
        "s",
        "n",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        (r["ws"], r["user"]): (r["s"], r["n"])
        for r in spark.table("winagg").collect()
    }
    batch_rows = {
        (r["ws"], r["user"]): (r["s"], r["n"])
        for r in tumbling_window_agg(
            _events_df(spark),
            "ts",
            "5 minutes",
            group_cols=["user"],
            aggs=[F.sum("value").alias("s"), F.count("*").alias("n")],
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "user",
            "s",
            "n",
        )
        .collect()
    }
    assert stream_rows == batch_rows


# ------------------------------------------------------ T5: stream dedup ----
def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dedup_in")
    write_json(
        f"{src}/f1.json",
        [
            {"k": 1, "ts": "2024-01-01 00:00:00"},
            {"k": 1, "ts": "2024-01-01 00:00:30"},  # duplicate key
            {"k": 2, "ts": "2024-01-01 00:01:00"},
        ],
    )
    stream = (
        spark.readStream.format("json")
        .schema("k long, ts timestamp")
        .load(src)
    )
    deduped = streaming_dedup(stream, ["k"], ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["k"] for r in spark.table("dedup_out").collect()) == [1, 2]


# -------------------------------------------- streaming merge (S5 x T1) ----
def test_streaming_merge_upserts_and_resumes(spark, tmp_path):
    src = str(tmp_path / "m_in")
    target = str(tmp_path / "m_out")
    ckpt = str(tmp_path / "m_ckpt")
    write_json(f"{src}/f1.json", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    cfg = _stream_cfg(
        src,
        target,
        ckpt,
        write_mode="merge",
        merge_keys=["k"],
        schema="k long, v string",
    )
    make_ingestion(spark, cfg).run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "b")}

    # second file: update k=2, insert k=3
    write_json(f"{src}/f2.json", [{"k": 2, "v": "B"}, {"k": 3, "v": "C"}])
    make_ingestion(spark, cfg).run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}

    # resume with no new files: checkpoint prevents re-application
    make_ingestion(spark, cfg).run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def test_streaming_merge_dedups_within_batch(spark, tmp_path):
    src = str(tmp_path / "md_in")
    target = str(tmp_path / "md_out")
    write_json(
        f"{src}/f1.json",
        [{"k": 1, "v": "old", "seq": 1}, {"k": 1, "v": "new", "seq": 2}],
    )
    cfg = _stream_cfg(
        src,
        target,
        str(tmp_path / "md_ckpt"),
        write_mode="merge",
        merge_keys=["k"],
        dedup_order=[F.col("seq").desc()],
        schema="k long, v string, seq long",
    )
    make_ingestion(spark, cfg).run()
    got = [(r["k"], r["v"]) for r in spark.read.parquet(target).collect()]
    assert got == [(1, "new")]


def test_streaming_merge_into_empty_target_dir(spark, tmp_path):
    # a pre-created target dir with no data files is bootstrapped, as
    # in the batch merge, instead of failing every micro-batch
    src = str(tmp_path / "me_in")
    target = tmp_path / "me_out"
    target.mkdir()
    write_json(f"{src}/f1.json", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    cfg = _stream_cfg(
        src,
        str(target),
        str(tmp_path / "me_ckpt"),
        write_mode="merge",
        merge_keys=["k"],
        schema="k long, v string",
    )
    make_ingestion(spark, cfg).run()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(str(target)).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_streaming_merge_keeps_new_column(spark, tmp_path):
    # the schema registry widens the stream; the merge must widen the
    # target with it (old rows get nulls)
    src = str(tmp_path / "mc_in")
    target = str(tmp_path / "mc_out")
    cfg = _stream_cfg(
        src,
        target,
        str(tmp_path / "mc_ckpt"),
        write_mode="merge",
        merge_keys=["id"],
    )
    write_json(f"{src}/f1.json", [{"id": 1, "v": "a"}])
    make_ingestion(spark, cfg).run()
    write_json(f"{src}/f2.json", [{"id": 2, "v": "b", "extra": "x"}])
    make_ingestion(spark, cfg).run()
    back = spark.read.parquet(target)
    assert back.columns == ["id", "v", "extra"]
    got = {r["id"]: r["extra"] for r in back.collect()}
    assert got == {1: None, 2: "x"}


def test_python_stream_source_resume(spark, tmp_path):
    """The custom Python stream source is exactly-once across a
    stop/restart: a second availableNow run from the same checkpoint
    adds nothing."""
    from python_tool_setup_spark.sources.custom import register_synthetic_stream

    register_synthetic_stream(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for _ in range(2):
        q = (
            spark.readStream.format("synthetic_stream")
            .option("rows", "120")
            .option("partitions", "3")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() == 120
    assert back.select("doc_id").distinct().count() == 120


def test_stream_restart_recovery_equals_batch(spark, sf_dir):
    # kill-after-first-batch + checkpoint resume must reproduce the
    # batch aggregate exactly (no lost, no double-counted micro-batch)
    from python_tool_setup_spark.queries.batch7 import (
        q153_stream_restart_recovery,
    )
    from python_tool_setup_spark.tables import load_table

    got = {
        r.event_type: (r.n, r.total_value)
        for r in q153_stream_restart_recovery(spark, sf_dir).collect()
    }
    expect = {
        r.event_type: (r.n, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == expect


def test_autoloader_schema_evolution_restart_null_backfill(spark, tmp_path):
    """Restart-from-checkpoint semantics across REPEATED additive
    schema evolution (reference framework.py:15,184-187: cloudFiles
    schema evolution + mergeSchema): each restart widens the registry
    additively, history rows read back null for columns that postdate
    them, no file is ever re-ingested (exactly-once across schema
    changes), and a column that lands mid-sequence keeps its registered
    type."""
    src = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    evolutions = [
        [{"id": 1, "v": "a"}],
        [{"id": 2, "v": "b", "c2": 20}],
        [{"id": 3, "v": "c", "c2": 30, "c3": "x"}],
    ]
    seen_cols = set()
    for i, recs in enumerate(evolutions):
        write_json(f"{src}/f{i}.json", recs)
        make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
        seen_cols |= {c for r in recs for c in r}

        back = spark.read.option("mergeSchema", "true").parquet(target)
        # widened schema, exactly-once row count
        assert seen_cols <= set(back.columns)
        rows = {r["id"]: r.asDict() for r in back.collect()}
        assert sorted(rows) == list(range(1, i + 2))
        # null backfill: every column is null for rows older than it
        if i >= 1:
            assert rows[1]["c2"] is None and rows[2]["c2"] == 20
        if i >= 2:
            assert rows[1]["c3"] is None and rows[2]["c3"] is None
            assert rows[3]["c3"] == "x"

        reg = json.load(open(f"{ckpt}/_schema/schema.json"))
        assert {f["name"] for f in reg["fields"]} == seen_cols

    # a restart with NO new files after evolution is a clean no-op
    make_ingestion(spark, _stream_cfg(src, target, ckpt)).run()
    back = spark.read.option("mergeSchema", "true").parquet(target)
    assert back.count() == 3
