"""``spark-ingest`` console entry point (packaging parity with the
reference's CLI-script pattern, workingwithPoetry/pyproject.toml
[project.scripts] / working_setuptool example-cli): run one
config-driven ingestion from the command line, or print its dry-run
plan.

Usage:
    spark-ingest --source /data/raw.json --target /lake/t [--format json]
                 [--mode append|overwrite|merge] [--merge-keys k1,k2]
                 [--partition-by c1,c2] [--database db --table t]
                 [--streaming --checkpoint /lake/_ckpt/t] [--dry-run]
"""

from __future__ import annotations

import argparse
import sys

from python_tool_setup_spark.config import IngestionConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark-ingest",
        description="Run one config-driven ingestion pipeline.",
    )
    p.add_argument("--source", required=True, help="source path/URI")
    p.add_argument("--format", default="json", dest="source_format")
    p.add_argument("--target", default=None, help="target path (external)")
    p.add_argument("--database", default=None)
    p.add_argument("--table", default=None)
    p.add_argument(
        "--mode",
        default="append",
        choices=["append", "overwrite", "merge"],
        dest="write_mode",
    )
    p.add_argument("--merge-keys", default=None, help="comma-separated")
    p.add_argument("--partition-by", default=None, help="comma-separated")
    p.add_argument("--zorder-by", default=None, help="comma-separated")
    p.add_argument("--checkpoint", default=None, dest="checkpoint_path")
    p.add_argument(
        "--streaming",
        action="store_true",
        help="incremental availableNow ingestion instead of batch",
    )
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="print the pipeline plan and exit without touching data",
    )
    return p


def _csv(v: str | None) -> list[str] | None:
    return [s.strip() for s in v.split(",")] if v else None


def config_from_args(args: argparse.Namespace) -> IngestionConfig:
    """The IngestionConfig a parsed ``spark-ingest`` command line asks for."""
    return IngestionConfig(
        source_path=args.source,
        source_format=args.source_format,
        database=args.database,
        table=args.table,
        target_path=args.target,
        write_mode=args.write_mode,
        ingest_mode="stream" if args.streaming else "batch",
        merge_keys=_csv(args.merge_keys),
        partition_by=_csv(args.partition_by),
        zorder_by=_csv(args.zorder_by),
        checkpoint_path=args.checkpoint_path,
        dry_run=args.dry_run,
    )


def main(argv: list[str] | None = None) -> int:  # kept: the console entry point
    cfg = config_from_args(build_parser().parse_args(argv))
    cfg.validate()
    if cfg.dry_run:
        print(cfg.plan())
        return 0
    from python_tool_setup_spark.ingestion import make_ingestion
    from python_tool_setup_spark.session import get_spark

    spark = get_spark("spark-ingest")
    make_ingestion(spark, cfg).run()
    print(f"ingested {cfg.source_path} -> {cfg.full_table_name or cfg.target_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
