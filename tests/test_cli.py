"""spark-ingest console entry point (packaging parity: the reference
ships a [project.scripts] CLI in both packaging templates)."""

from __future__ import annotations

import pytest

from python_tool_setup_spark.cli import build_parser, config_from_args, main
from python_tool_setup_spark.config import IngestionError


def test_dry_run_prints_plan(capsys):
    rc = main(
        [
            "--source",
            "s3a://lake/raw/events",
            "--format",
            "json",
            "--database",
            "analytics",
            "--table",
            "events",
            "--target",
            "s3a://lake/silver/events",
            "--mode",
            "merge",
            "--merge-keys",
            "event_id",
            "--partition-by",
            "event_date",
            "--dry-run",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "IngestionPipeline plan:" in out
    assert "merge_keys   : ['event_id']" in out
    assert "table analytics.events (external @ s3a://lake/silver/events)" in out


def test_streaming_dry_run_validates_and_prints_plan(capsys):
    argv = ["--source", "/s", "--target", "/t", "--streaming"]
    assert main([*argv, "--checkpoint", "/c", "--dry-run"]) == 0
    assert "mode         : stream / append" in capsys.readouterr().out
    # dry runs validate too: a stream without a checkpoint is refused
    with pytest.raises(IngestionError, match="checkpoint"):
        main([*argv, "--dry-run"])


def test_source_is_required():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--target", "/t"])


def test_mode_choices_are_validated():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--source", "/s", "--mode", "upsert"])


def test_cli_batch_roundtrip(spark, sf_dir, tmp_path):
    """End-to-end: the CLI path (minus its own get_spark) through the
    same IngestionConfig it builds."""
    from python_tool_setup_spark.ingestion import make_ingestion
    from python_tool_setup_spark.tables import table_path

    target = str(tmp_path / "cli_rt")
    args = build_parser().parse_args(
        [
            "--source",
            table_path(sf_dir, "region"),
            "--format",
            "parquet",
            "--target",
            target,
            "--mode",
            "overwrite",
        ]
    )
    make_ingestion(spark, config_from_args(args)).run()
    assert spark.read.parquet(target).count() == 5
