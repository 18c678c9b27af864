"""Unit tests for training-data pipeline operators (llm/pipeline.py,
dedup.dup_clusters)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from python_tool_setup_spark.llm.dedup import dup_clusters
from python_tool_setup_spark.llm.pipeline import (
    hash_bucket,
    mix_weights,
    pack_shards,
    stratified_sample,
)


def test_stratified_sample_deterministic_and_rate(spark):
    df = spark.range(0, 10_000).withColumn(
        "lang", F.when(F.col("id") % 4 == 0, "en").otherwise("de")
    )
    a = stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, "id")
    b = stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, "id")
    rows_a = sorted(r["id"] for r in a.collect())
    assert rows_a == sorted(r["id"] for r in b.collect())  # reproducible
    got = {r["lang"]: r["n"] for r in a.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["en"] / 2500 - 0.5) < 0.08
    assert abs(got["de"] / 7500 - 0.1) < 0.04
    # a stratum missing from the rates is dropped entirely
    extra = df.withColumn("lang", F.lit("xx"))
    assert stratified_sample(extra, "lang", {"en": 0.5}, "id").count() == 0


def test_hash_bucket_matches_md5(spark):
    import hashlib

    row = spark.range(42, 43).select(hash_bucket("id").alias("b")).first()
    expect = int(hashlib.md5(b"42").hexdigest()[:8], 16) % 10_000
    assert row["b"] == expect


def test_pack_shards_equals_naive_window(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("ord"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97 + 1).alias("tok"),
    )
    fast = pack_shards(df, "g", "ord", "tok", budget=300, chunk_size=37)
    w = (
        Window.partitionBy("g")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = df.withColumn(
        "shard_id",
        (F.coalesce(F.sum("tok").over(w), F.lit(0)) / 300).cast("bigint"),
    )
    got = {(r["g"], r["ord"]): r["shard_id"] for r in fast.collect()}
    want = {(r["g"], r["ord"]): r["shard_id"] for r in naive.collect()}
    assert got == want
    # every shard except a group's last is filled to >= budget boundary
    sizes = (
        fast.groupBy("g", "shard_id").agg(F.sum("tok").alias("t"))
        .collect()
    )
    assert all(r["t"] > 0 for r in sizes)


def test_mix_weights_uniform_and_target(spark):
    df = spark.createDataFrame(
        [("en",)] * 6 + [("de",)] * 2 + [("fr",)] * 2, ["lang"]
    )
    uni = {r["lang"]: r["weight"] for r in mix_weights(df, "lang").collect()}
    # en is 60% of rows but target 1/3 -> weight < 1; de/fr upweighted
    assert uni["en"] < 1 < uni["de"] == uni["fr"]


def test_dup_clusters_chain_and_isolated(spark):
    # chain 1-2-3-4 plus pair (10, 11): transitivity must label the whole
    # chain with its minimum even though (1,4) is never a pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_train_val_test_split_stable(spark):
    from python_tool_setup_spark.llm.pipeline import train_val_test_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = train_val_test_split(df, "k", val_frac=0.1, test_frac=0.1)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash split is approximately proportional
    assert 100 < counts["val"] < 300 and 100 < counts["test"] < 300
    # stable: same assignment on recompute
    again = train_val_test_split(df, "k", val_frac=0.1, test_frac=0.1)
    assert out.exceptAll(again).count() == 0


def test_cap_per_group(spark):
    # q96's frequency cap is grouped top_k: two order columns (score ties
    # broken by id), and a group below the cap keeps every row
    from python_tool_setup_spark.operators.relational import top_k

    df = spark.createDataFrame(
        [("a", i, 100 - i // 2) for i in range(10)] + [("b", 99, 1)],
        "g string, id long, score long",
    )
    out = top_k(df, 3, [F.col("score").desc(), "id"], ["g"])
    got = {(r["g"], r["id"]) for r in out.collect()}
    assert got == {("a", 0), ("a", 1), ("a", 2), ("b", 99)}


def test_quantile_quality_filter_exact(spark):
    from python_tool_setup_spark.llm.pipeline import quantile_quality_filter

    df = spark.range(1, 101).select(F.col("id").alias("score"))
    kept = quantile_quality_filter(df, "score", keep_frac=0.9, relative_error=0.0)
    assert kept.count() == 91  # scores 10..100 (cutoff = exact p10 element)
    assert kept.agg(F.min("score")).collect()[0][0] == 10


def test_incremental_dedup(spark):
    from python_tool_setup_spark.llm.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc")], "id long, text string"
    )
    store = spark.createDataFrame([("bb",)], "text string").select(
        F.sha2("text", 256).alias("content_sha")
    )
    out = incremental_dedup(batch, store, "id")
    assert sorted(r["id"] for r in out.collect()) == [1, 4]
