"""Round-4 batch-32/33 properties: closed forms vs their textbook
recursive definitions, idempotent-spool retry safety, PSI null case."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_ewma_closed_form_equals_recursion(spark):
    from python_tool_setup_spark.queries.batch33 import q264_ewma_smoothing

    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in q264_ewma_smoothing(spark, SF_DIR).collect()
    }
    assert got, "no users passed the min-events floor"
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("user_id") % 40 == 0)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, (n, ewma) in got.items():
        rows = sorted(by_user[uid], key=lambda r: (r["ts"], r["event_id"]))
        assert len(rows) == n
        e = rows[0]["value"]
        for r in rows[1:]:  # e_i = a*v_i + (1-a)*e_{i-1}, a = 0.5
            e = 0.5 * r["value"] + 0.5 * e
        # the gate quantizes each weighted term to exact integer
        # micro-units and rounds the final to milli-units (the q212
        # knife-edge recipe), so the recursion agrees within the
        # quantization budget: 0.5 micro per row + 0.5 milli final
        assert abs(e - ewma) < 5e-4 + n * 5e-7 + 1e-9
        # and the quantized closed form reproduces the gate EXACTLY
        # (2^-k weights make each product exact in binary FP)
        micro = 0
        for i, r in enumerate(rows, start=1):
            w = 0.5 ** (n - 1) if i == 1 else 0.5 ** (n - i + 1)
            micro += round(1000000 * (r["value"] * w))
        # integer half-up ((m+500)//1000) — Python round() is
        # half-even and would flake on an exact milli tie
        assert ewma == ((micro + 500) // 1000) / 1000.0


def test_cusum_closed_form_equals_recursion(spark):
    from python_tool_setup_spark.queries.batch33 import q265_cusum_changepoint

    row = q265_cusum_changepoint(spark, SF_DIR).collect()[0]
    daily = sorted(
        (
            (r["day"].isoformat(), r["x"])
            for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
            .groupBy(F.col("ts").cast("date").alias("day"))
            .agg(F.count("*").alias("x"))
            .collect()
        )
    )
    target = round(1000.0 * sum(x for _, x in daily) / len(daily))
    c, best = 0, (None, -1)
    for day, x in daily:  # textbook recursion C_t = max(0, C + dev)
        c = max(0, c + 1000 * x - target)
        if c > best[1]:
            best = (day, c)
    assert row["change_day"] == best[0]
    assert row["cusum_milli"] == best[1]


def test_idempotent_spool_no_duplicates(spark):
    from python_tool_setup_spark.queries.batch33 import q263_idempotent_spool

    out = q263_idempotent_spool(spark, SF_DIR).collect()
    got_total = sum(r["n"] for r in out)
    src_total = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("user_id") % 25 == 0)
        .count()
    )
    # every batch's writer ran twice; keyed overwrite must not duplicate
    assert got_total == src_total


def test_psi_of_identical_distributions_is_zero(spark):
    # same-half comparison: p == q per bucket -> every quantized term 0
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bucket = (F.least(F.col("n_chars"), F.lit(1999)) * 10 / F.lit(2000)).cast(
        "long"
    )
    half = d.filter(F.col("doc_id") % 2 == 0).select(bucket.alias("b"))
    counts = half.groupBy("b").count().collect()
    total = sum(r["count"] for r in counts)
    import math

    psi = sum(
        round(
            1e6
            * ((r["count"] + 1.0) / (total + 10) - (r["count"] + 1.0) / (total + 10))
            * math.log(1.0)
        )
        for r in counts
    )
    assert psi == 0


def test_scene_changes_match_file_bytes(spark):
    import hashlib
    import os

    from python_tool_setup_spark.queries.batch33 import (
        _SCENE_FRAME,
        _SCENE_REP,
        q266_scene_change_detection,
    )

    got = {
        r["doc_id"]: (r["n_frames"], r["n_scene_changes"])
        for r in q266_scene_change_detection(spark, SF_DIR).collect()
    }
    assert got
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(
            (F.col("doc_id") < 25)
            & (F.length("text") >= _SCENE_FRAME)
            & (F.octet_length("text") == F.length("text"))
        )
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        raw = r["text"].encode()
        stream = b"".join(
            raw[o : o + _SCENE_FRAME] * _SCENE_REP
            for o in range(0, len(raw), _SCENE_FRAME)
        )
        frames = [
            stream[o : o + _SCENE_FRAME]
            for o in range(0, len(stream), _SCENE_FRAME)
        ]
        changes = sum(1 for a, b in zip(frames, frames[1:]) if a != b)
        assert got[r["doc_id"]] == (len(frames), changes)
