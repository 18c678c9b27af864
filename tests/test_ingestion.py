"""End-to-end tests of the config-driven ingestion framework (SURVEY.md
§2.1 S1-S14, §2.4): batch ingestion, merge upserts, DDL/registration,
latest-file discovery, object put/get, layout maintenance."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from python_tool_setup_spark.config import IngestionConfig, IngestionError
from python_tool_setup_spark.ingestion import (
    AzureIngestion,
    LocalIngestion,
    S3Ingestion,
    make_ingestion,
)
from python_tool_setup_spark.ingestion.maintenance import optimize_layout
from python_tool_setup_spark.sources import (
    get_object,
    latest_file,
    put_object,
    read_latest_file,
)


def write_json(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    return str(d)


# ------------------------------------------------------------- factory ----
def test_factory_dispatch(spark):
    mk = lambda p: IngestionConfig(source_path=p, target_path="/t")  # noqa: E731
    assert isinstance(make_ingestion(spark, mk("s3a://b/k")), S3Ingestion)
    assert isinstance(make_ingestion(spark, mk("abfss://c@a.dfs/x")), AzureIngestion)
    assert isinstance(make_ingestion(spark, mk("/local/path")), LocalIngestion)


def test_uri_validation(spark):
    cfg = IngestionConfig(source_path="/not/s3", target_path="/t")
    with pytest.raises(IngestionError, match="s3"):
        S3Ingestion(spark, cfg).run()
    with pytest.raises(IngestionError, match="abfss"):
        AzureIngestion(
            spark, IngestionConfig(source_path="s3a://b/k", target_path="/t")
        ).run()


def test_config_validation():
    with pytest.raises(IngestionError, match="merge_keys"):
        IngestionConfig(source_path="/s", target_path="/t", write_mode="merge").validate()
    with pytest.raises(IngestionError, match="checkpoint"):
        IngestionConfig(source_path="/s", target_path="/t", ingest_mode="stream").validate()
    with pytest.raises(IngestionError, match="table / target_path"):
        IngestionConfig(source_path="/s").validate()


def test_dry_run_writes_nothing(spark, src_dir, tmp_path):
    write_json(f"{src_dir}/a.json", [{"k": 1}])
    target = str(tmp_path / "tgt")
    cfg = IngestionConfig(source_path=src_dir, target_path=target, dry_run=True)
    plan = make_ingestion(spark, cfg).run()
    assert "IngestionPipeline plan" in plan and "batch / append" in plan
    assert not os.path.exists(target)


# --------------------------------------------------------------- batch ----
def test_batch_json_to_external_table(spark, src_dir, tmp_path):
    write_json(
        f"{src_dir}/a.json",
        [{"event_date": "2024-01-01", "v": 1}, {"event_date": "2024-01-02", "v": 2}],
    )
    target = str(tmp_path / "tgt")
    cfg = IngestionConfig(
        source_path=src_dir,
        source_format="json",
        database="testdb",
        table="sales_events",
        target_path=target,
        partition_by=["event_date"],
        table_comment="it's a test",  # exercises quote escaping
        table_properties={"quality": "bronze"},
    )
    make_ingestion(spark, cfg).run()
    back = spark.table("testdb.sales_events")
    assert back.count() == 2
    # partitioned layout on disk
    assert any(p.startswith("event_date=") for p in os.listdir(target))
    props = {
        r["key"]: r["value"]
        for r in spark.sql("SHOW TBLPROPERTIES testdb.sales_events").collect()
    }
    assert props.get("quality") == "bronze"
    desc = spark.catalog.getTable("testdb.sales_events").description
    assert desc == "it's a test"


def test_batch_csv_with_inference(spark, src_dir, tmp_path):
    with open(f"{src_dir}/data.csv", "w") as f:
        f.write("id,amount\n1,10.5\n2,20.25\n")
    target = str(tmp_path / "csvtgt")
    cfg = IngestionConfig(
        source_path=src_dir, source_format="csv", target_path=target
    )
    make_ingestion(spark, cfg).run()
    back = spark.read.parquet(target)
    assert dict(back.dtypes) == {"id": "int", "amount": "double"}
    assert back.count() == 2


def test_batch_explicit_schema(spark, src_dir, tmp_path):
    write_json(f"{src_dir}/a.json", [{"id": 1, "amount": 3}])
    target = str(tmp_path / "schematgt")
    cfg = IngestionConfig(
        source_path=src_dir,
        target_path=target,
        schema="id BIGINT, amount DOUBLE",
        infer_schema=False,
    )
    make_ingestion(spark, cfg).run()
    assert dict(spark.read.parquet(target).dtypes) == {
        "id": "bigint",
        "amount": "double",
    }


def test_append_accumulates(spark, src_dir, tmp_path):
    target = str(tmp_path / "app")
    write_json(f"{src_dir}/a.json", [{"k": 1}])
    cfg = IngestionConfig(source_path=src_dir, target_path=target)
    make_ingestion(spark, cfg).run()
    make_ingestion(spark, cfg).run()
    assert spark.read.parquet(target).count() == 2
    cfg2 = IngestionConfig(
        source_path=src_dir, target_path=target, write_mode="overwrite"
    )
    make_ingestion(spark, cfg2).run()
    assert spark.read.parquet(target).count() == 1


# --------------------------------------------------------------- merge ----
def _merge_cfg(src, target, **kw):
    return IngestionConfig(
        source_path=src,
        source_format="json",
        target_path=target,
        write_mode="merge",
        merge_keys=["device_id", "reading_ts"],
        **kw,
    )


def test_merge_pipeline_upserts(spark, src_dir, tmp_path):
    target = str(tmp_path / "merged")
    write_json(
        f"{src_dir}/batch1.json",
        [
            {"device_id": 1, "reading_ts": "t1", "temp": 20.0},
            {"device_id": 2, "reading_ts": "t1", "temp": 21.0},
        ],
    )
    make_ingestion(spark, _merge_cfg(src_dir, target)).run()
    assert spark.read.parquet(target).count() == 2

    src2 = str(tmp_path / "src2")
    write_json(
        f"{src2}/batch2.json",
        [
            {"device_id": 1, "reading_ts": "t1", "temp": 99.0},  # update
            {"device_id": 3, "reading_ts": "t1", "temp": 30.0},  # insert
        ],
    )
    make_ingestion(spark, _merge_cfg(src2, target)).run()
    got = {
        (r["device_id"], r["reading_ts"]): r["temp"]
        for r in spark.read.parquet(target).collect()
    }
    assert got == {(1, "t1"): 99.0, (2, "t1"): 21.0, (3, "t1"): 30.0}


def test_merge_schema_evolution_adds_column(spark, src_dir, tmp_path):
    target = str(tmp_path / "evolve")
    write_json(f"{src_dir}/b1.json", [{"device_id": 1, "reading_ts": "t1", "temp": 1.0}])
    make_ingestion(spark, _merge_cfg(src_dir, target)).run()
    src2 = str(tmp_path / "src2")
    write_json(
        f"{src2}/b2.json",
        [{"device_id": 2, "reading_ts": "t1", "temp": 2.0, "humidity": 0.5}],
    )
    make_ingestion(spark, _merge_cfg(src2, target)).run()
    back = spark.read.parquet(target)
    assert "humidity" in back.columns
    got = {r["device_id"]: r["humidity"] for r in back.collect()}
    assert got == {1: None, 2: 0.5}


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_merge_into_unreadable_target_raises_and_keeps_it(spark, src_dir, tmp_path):
    # Fault injection: a target whose only Parquet file has a truncated
    # footer must fail the merge, not be bootstrapped over by the source.
    target = str(tmp_path / "corrupt")
    spark.createDataFrame(
        [(i, "t1", float(i)) for i in range(100)],
        "device_id long, reading_ts string, temp double",
    ).coalesce(1).write.parquet(target)
    (data,) = [f for f in os.listdir(target) if f.endswith(".parquet")]
    with open(os.path.join(target, data), "r+b") as fh:
        fh.truncate(os.path.getsize(os.path.join(target, data)) - 12)
    before = _tree_bytes(target)
    write_json(f"{src_dir}/b1.json", [{"device_id": 1, "reading_ts": "t1", "temp": 9.0}])
    with pytest.raises(Exception):
        make_ingestion(spark, _merge_cfg(src_dir, target)).run()
    assert _tree_bytes(target) == before


def test_merge_bootstraps_target_without_data_files(spark, src_dir, tmp_path):
    # A target dir holding only bookkeeping files is empty, not corrupt.
    target = tmp_path / "empty"
    target.mkdir()
    (target / "_SUCCESS").write_bytes(b"")
    write_json(f"{src_dir}/b1.json", [{"device_id": 1, "reading_ts": "t1", "temp": 9.0}])
    make_ingestion(spark, _merge_cfg(src_dir, str(target))).run()
    assert spark.read.parquet(str(target)).count() == 1


def test_post_write_optimize_failure_logs_warning(
    spark, src_dir, tmp_path, monkeypatch, caplog
):
    import logging

    import python_tool_setup_spark.ingestion.maintenance as maintenance

    def boom(*a, **kw):
        raise RuntimeError("layout exploded")

    monkeypatch.setattr(maintenance, "optimize_layout", boom)
    write_json(f"{src_dir}/b1.json", [{"device_id": 1, "reading_ts": "t1", "temp": 9.0}])
    cfg = IngestionConfig(
        source_path=src_dir,
        source_format="json",
        target_path=str(tmp_path / "opt"),
        optimize_after_write=True,
    )
    with caplog.at_level(logging.WARNING, logger="python_tool_setup_spark.ingestion.base"):
        make_ingestion(spark, cfg).run()
    (rec,) = [r for r in caplog.records if "post-write optimize failed" in r.getMessage()]
    assert rec.levelno == logging.WARNING and "layout exploded" in rec.getMessage()


def test_merge_managed_table(spark, src_dir):
    spark.sql("DROP TABLE IF EXISTS mergedb.readings")
    write_json(f"{src_dir}/b1.json", [{"device_id": 1, "reading_ts": "t1", "temp": 1.0}])
    cfg = IngestionConfig(
        source_path=src_dir,
        database="mergedb",
        table="readings",
        write_mode="merge",
        merge_keys=["device_id"],
    )
    make_ingestion(spark, cfg).run()
    src2 = os.path.join(os.path.dirname(src_dir), "m2")
    write_json(f"{src2}/b2.json", [{"device_id": 1, "reading_ts": "t2", "temp": 9.0}])
    make_ingestion(
        spark,
        IngestionConfig(
            source_path=src2,
            database="mergedb",
            table="readings",
            write_mode="merge",
            merge_keys=["device_id"],
        ),
    ).run()
    got = spark.table("mergedb.readings").collect()
    assert len(got) == 1 and got[0]["reading_ts"] == "t2"


# ---------------------------------------------------- latest-file (S12) ----
def test_latest_file_selection(spark, tmp_path):
    d = str(tmp_path / "files")
    os.makedirs(d)
    for i, name in enumerate(["old.json", "mid.json", "new.json"]):
        with open(f"{d}/{name}", "w") as f:
            f.write(json.dumps({"which": name}) + "\n")
        t = time.time() - 3600 * (3 - i)
        os.utime(f"{d}/{name}", (t, t))
    assert latest_file(spark, d).endswith("new.json")
    assert latest_file(spark, d, glob="old*").endswith("old.json")
    df = read_latest_file(spark, d, fmt="json")
    assert df.collect()[0]["which"] == "new.json"


def test_object_put_get_roundtrip(spark, tmp_path):
    p = f"{tmp_path}/obj/config.json"
    put_object(spark, p, '{"a": 1}')
    assert get_object(spark, p) == b'{"a": 1}'
    put_object(spark, p, b"\x00\x01binary")
    assert get_object(spark, p) == b"\x00\x01binary"


# --------------------------------------------------------- maintenance ----
def test_optimize_compaction_reduces_files(spark, tmp_path):
    target = str(tmp_path / "frag")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(target)
    n_before = len([f for f in os.listdir(target) if f.endswith(".parquet")])
    assert n_before >= 20
    optimize_layout(spark, path=target)
    n_after = len([f for f in os.listdir(target) if f.endswith(".parquet")])
    assert n_after < n_before
    back = spark.read.parquet(target)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 999 * 1000


def test_optimize_zorder_clusters(spark, tmp_path):
    target = str(tmp_path / "zorder")
    spark.range(10000).withColumn("key", F.col("id") % 100).write.parquet(target)
    optimize_layout(spark, path=target, zorder_by=["key"], target_file_bytes=16 * 1024)
    back = spark.read.parquet(target)
    assert back.count() == 10000
    # clustering effect: each file covers a narrow key range
    stats = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("key") - F.min("key")).alias("spread"))
        .agg(F.max("spread"))
        .first()[0]
    )
    assert stats < 99  # unclustered would give ~99 per file


# ---------------------------------------------------------- cloud auth ----
def test_s3_auth_wiring(spark):
    cfg = IngestionConfig(
        source_path="s3a://bucket/key",
        target_path="/t",
        source_options={
            "aws_access_key": "AKIAX",
            "aws_secret_key": "SECRET",
            "aws_session_token": "TOK",
            "endpoint": "s3.eu-west-1.amazonaws.com",
            "fs.s3a.path.style.access": "true",
        },
    )
    S3Ingestion(spark, cfg).configure_auth()
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.access.key") == "AKIAX"
    assert conf.get("fs.s3a.secret.key") == "SECRET"
    assert conf.get("fs.s3a.session.token") == "TOK"
    assert conf.get("fs.s3a.endpoint") == "s3.eu-west-1.amazonaws.com"
    assert conf.get("fs.s3a.path.style.access") == "true"


def test_azure_auth_wiring(spark):
    cfg = IngestionConfig(
        source_path="abfss://cont@myacct.dfs.core.windows.net/x",
        target_path="/t",
        source_options={
            "account_name": "myacct",
            "account_key": "KEY==",
            "client_id": "cid",
            "client_secret": "csecret",
            "tenant_id": "tid",
        },
    )
    AzureIngestion(spark, cfg).configure_auth()
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    sfx = "myacct.dfs.core.windows.net"
    assert conf.get(f"fs.azure.account.key.{sfx}") == "KEY=="
    assert conf.get(f"fs.azure.account.auth.type.{sfx}") == "OAuth"
    assert conf.get(f"fs.azure.account.oauth2.client.id.{sfx}") == "cid"
    assert conf.get(f"fs.azure.account.oauth2.client.secret.{sfx}") == "csecret"
    assert "tid" in conf.get(f"fs.azure.account.oauth2.client.endpoint.{sfx}")


def test_catalog_shim(spark, src_dir, tmp_path):
    write_json(os.path.join(src_dir, "a.json"), [{"k": 1}])
    # default catalog is always registered -> selected, pipeline runs
    ok = IngestionConfig(
        source_path=src_dir,
        catalog="spark_catalog",
        target_path=str(tmp_path / "t1"),
    )
    make_ingestion(spark, ok).run()
    assert spark.catalog.currentCatalog() == "spark_catalog"
    # unregistered catalog fails fast with a clear message
    bad = IngestionConfig(
        source_path=src_dir,
        catalog="unity_prod",
        target_path=str(tmp_path / "t2"),
    )
    with pytest.raises(IngestionError, match="not registered"):
        make_ingestion(spark, bad).run()


def test_python_datasource_striping(spark):
    from python_tool_setup_spark.sources.custom import register_synthetic_docs

    register_synthetic_docs(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", "100")
        .option("partitions", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 100
    assert sorted(r["doc_id"] for r in rows) == list(range(100))
    # content is deterministic and partition-count independent
    df1 = (
        spark.read.format("synthetic_docs")
        .option("rows", "100")
        .option("partitions", "7")
        .load()
    )
    assert df.exceptAll(df1).count() == 0


def test_python_datasink_manifest(spark, tmp_path):
    import json as _json

    from python_tool_setup_spark.sources.custom import register_jsonl_dir

    register_jsonl_dir(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    spark.range(50).selectExpr("id", "id % 3 AS b").repartition(4).write.format(
        "jsonl_dir"
    ).option("path", out).mode("append").save()
    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sum(manifest.values()) == 50
    assert len(manifest) == 4  # one staged file per task
    back = spark.read.json(out, pathGlobFilter="part-*.jsonl")
    assert back.count() == 50
    assert sorted(r["id"] for r in back.collect()) == list(range(50))
