"""Ingestion pipeline lifecycle.

Parity with the reference's ``BaseIngestion.run()`` flow
(framework.py:87-118): validate → plan (dry-run short-circuit) →
namespace DDL → read → write (append / overwrite / merge | stream) →
table registration → post-write optimize → table metadata. The execution is
all DataFrame-API; storage is Parquet-first with a Delta backend that
activates automatically when delta-spark is importable (the build env
does not ship it — SURVEY.md §7).

Scale notes:
- append/overwrite go straight through the DataFrame writer with
  optional ``partitionBy`` — no driver materialization ever.
- merge without Delta is a staged rewrite: the merged relation, one full
  outer join of target and source on the merge keys (the target is
  scanned once; both sides shuffle on the keys, so the rewrite spreads
  over every core and AQE sizes the output files), is committed by
  ``overwrite_staged``, which optimize shares: written once beside the
  target (a named table's catalog location) and promoted by rename, so
  a table keeps its catalog entry. At 100 TB the right backend is
  Delta/Iceberg (file-level rewrite). A target that holds data but
  cannot be read fails the merge; only an absent or data-less target is
  bootstrapped by a plain write.
- streaming uses the file-source + availableNow trigger (OSS equivalent
  of Auto Loader's incremental listing, framework.py:177-209) with a
  schema registry for evolution.
"""

from __future__ import annotations

import logging
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from python_tool_setup_spark.config import IngestionConfig, IngestionError
from python_tool_setup_spark.operators.merge import merge_key_errors, merge_upsert
from python_tool_setup_spark.operators.relational import dedup_by_keys
from python_tool_setup_spark.sources.files import read_batch
from python_tool_setup_spark.sources.fs import delete_path, has_data_files
from python_tool_setup_spark.sources.fs import replace_dir, restore_backup

try:  # optional Delta backend (not installed in the build env)
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except Exception:  # noqa: BLE001
    DeltaTable = None
    _HAS_DELTA = False

_log = logging.getLogger(__name__)


def _writer(df: DataFrame, fmt: str, mode: str, partition_by: list[str] | None):
    writer = df.write.format(fmt).mode(mode)
    return writer.partitionBy(*partition_by) if partition_by else writer


def table_location(spark: SparkSession, table: str) -> str:
    """The catalog location of ``table``."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return next(r["data_type"] for r in rows if r["col_name"] == "Location")


def sync_table(spark: SparkSession, table: str, schema: StructType) -> None:
    """Sync ``table``'s catalog entry with its files: add the columns of
    ``schema`` it lacks, find new partitions, drop cached listings."""
    cols = spark.catalog.listColumns(table)
    have = {c.name.lower() for c in cols}
    new = [f for f in schema.fields if f.name.lower() not in have]
    if new:
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in new)
        spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({ddl})")
    if any(c.isPartition for c in cols):
        spark.sql(f"MSCK REPAIR TABLE {table}")
    spark.sql(f"REFRESH TABLE {table}")


def overwrite_staged(
    spark: SparkSession, df: DataFrame, fmt: str, path: str | None = None,
    table: str | None = None, partition_by: list[str] | None = None,
) -> None:
    """Overwrite a target with ``df``, which may read that same target.

    ``df`` is staged beside the target (an existing named table's catalog
    location and partitioning, else ``path`` and ``partition_by``) and
    promoted with ``replace_dir``; only the target's cached plans are
    refreshed and a table's catalog entry is kept and synced."""
    if table and spark.catalog.tableExists(table):
        path = table_location(spark, table)
        cols = spark.catalog.listColumns(table)
        partition_by = [c.name for c in cols if c.isPartition]
    else:
        table = None
    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    try:
        _writer(df, fmt, "overwrite", partition_by).save(staging)
        replace_dir(spark, staging, path)
    except Exception:
        delete_path(spark, staging)
        raise
    spark.catalog.refreshByPath(path)
    if table:
        sync_table(spark, table, df.schema)


class IngestionPipeline:
    """Runs one IngestionConfig end-to-end. Subclasses add cloud-specific
    URI validation/auth (see ingestion.clouds)."""

    def __init__(self, spark: SparkSession, cfg: IngestionConfig):
        self.spark = spark
        self.cfg = cfg

    # ----------------------------------------------------------- hooks --
    def validate_source_uri(self) -> None:
        """Cloud-specific URI check (parity framework.py:276-292)."""

    def configure_auth(self) -> None:
        """Cloud-specific auth wiring hook (parity framework.py:111-114)."""

    # ------------------------------------------------------------- run --
    def run(self) -> str:
        cfg = self.cfg
        cfg.validate()
        self.validate_source_uri()
        plan = cfg.plan()
        if cfg.dry_run:
            return plan
        self.configure_auth()
        self._ensure_namespace()
        if cfg.ingest_mode == "stream":
            written = self._run_stream()
        else:
            df = self.read()
            self.write(df)
            written = df.schema
        self._register_table(written)
        if cfg.optimize_after_write:
            self._optimize_post_write()
        self._apply_table_metadata()
        return plan

    # ------------------------------------------------------------ read --
    def read(self) -> DataFrame:
        cfg = self.cfg
        return read_batch(
            self.spark,
            cfg.source_path,
            cfg.source_format,
            cfg.source_options,
            cfg.schema,
            cfg.infer_schema,
        )

    # ----------------------------------------------------------- write --
    def write(self, df: DataFrame) -> None:
        if self.cfg.write_mode == "merge":
            self._merge_into(df)
        else:
            self._save(df, self.cfg.write_mode)

    def _save(self, df: DataFrame, mode: str) -> None:
        cfg = self.cfg
        writer = _writer(df, cfg.target_format, mode, cfg.partition_by)
        if cfg.target_format == "delta":
            # keep evolving sources writable over existing targets
            evolve = "overwriteSchema" if mode == "overwrite" else "mergeSchema"
            writer = writer.option(evolve, "true")
        if cfg.target_path:
            writer.save(cfg.target_path)
        else:
            writer.saveAsTable(cfg.full_table_name)

    # ----------------------------------------------------------- merge --
    def _target_df(self) -> DataFrame | None:
        """The merge target, or None when there is none yet: a missing
        table, or a path that holds no data files. A target with data
        that cannot be read raises — bootstrapping over it would replace
        it with the source batch. A commit interrupted mid-promote (path
        or table location) is finished first, so its old rows are found."""
        cfg = self.cfg
        if cfg.target_path:
            restore_backup(self.spark, cfg.target_path)
            if not has_data_files(self.spark, cfg.target_path):
                return None
            return self.spark.read.format(cfg.target_format).load(cfg.target_path)
        if self.spark.catalog.tableExists(cfg.full_table_name):
            restore_backup(self.spark, table_location(self.spark, cfg.full_table_name))
            return self.spark.table(cfg.full_table_name)
        return None

    def _merge_into(self, source: DataFrame) -> None:
        """Upsert semantics of Delta ``whenMatchedUpdateAll /
        whenNotMatchedInsertAll`` (reference framework.py:211-231).
        ``cfg.dedup_order`` makes the source unique per key on every
        path, the bootstrap write included. Without it, two source rows
        that match one target row raise ``MergeKeyError`` and leave the
        target as it was."""
        cfg = self.cfg
        if cfg.dedup_order:
            source = dedup_by_keys(source, cfg.merge_keys, cfg.dedup_order)
        target = self._target_df()
        if target is None:
            # bootstrap: first merge == plain write (framework.py:214-223)
            self._save(source, "overwrite")
        elif _HAS_DELTA and cfg.target_format == "delta":
            dt = (
                DeltaTable.forPath(self.spark, cfg.target_path)
                if cfg.target_path
                else DeltaTable.forName(self.spark, cfg.full_table_name)
            )
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in cfg.merge_keys)
            (
                dt.alias("t")
                .merge(source.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            # schema evolution: new source columns appear, old rows get nulls
            merged = merge_upsert(
                target, source, keys=cfg.merge_keys, evolve_schema=True
            )
            with merge_key_errors():
                overwrite_staged(
                    self.spark, merged, cfg.target_format, cfg.target_path,
                    cfg.full_table_name, cfg.partition_by,
                )

    # ------------------------------------------------------- streaming --
    def _run_stream(self) -> StructType:
        from python_tool_setup_spark.streaming.autoloader import run_autoloader

        return run_autoloader(self.spark, self.cfg)

    # ------------------------------------------------------------- DDL --
    def _ensure_namespace(self) -> None:
        """Three-level-namespace parity (framework.py:139-141): catalogs
        can't be CREATEd at runtime in OSS Spark (they are conf-registered
        V2 plugins: ``spark.sql.catalog.<name>``), so the shim selects
        ``cfg.catalog`` as the current catalog when it is registered and
        fails fast when it isn't — then CREATE SCHEMA IF NOT EXISTS."""
        cfg = self.cfg
        if cfg.catalog:
            known = {c.name for c in self.spark.catalog.listCatalogs()}
            if cfg.catalog not in known:
                raise IngestionError(
                    f"catalog {cfg.catalog!r} is not registered in this "
                    f"session (known: {sorted(known)}); register a V2 "
                    f"catalog via spark.sql.catalog.{cfg.catalog} or drop "
                    "cfg.catalog"
                )
            self.spark.catalog.setCurrentCatalog(cfg.catalog)
        if cfg.database:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {cfg.database}")

    def _register_table(self, written: StructType) -> None:
        """External-table registration (framework.py:240-246)."""
        cfg = self.cfg
        if not (cfg.table and cfg.target_path):
            return
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {cfg.full_table_name} "
            f"USING {cfg.target_format.upper()} LOCATION '{cfg.target_path}'"
        )
        sync_table(self.spark, cfg.full_table_name, written)

    def _apply_table_metadata(self) -> None:
        """COMMENT + TBLPROPERTIES passthrough (framework.py:248-254)."""
        cfg = self.cfg
        if not cfg.table:
            return
        name = cfg.full_table_name
        if cfg.table_comment is not None:
            # '' escaping parity with the reference (framework.py:249-250)
            escaped = cfg.table_comment.replace("'", "''")
            self.spark.sql(f"COMMENT ON TABLE {name} IS '{escaped}'")
        if cfg.table_properties:
            props = ", ".join(
                f"'{k}' = '{str(v).replace(chr(39), chr(39) * 2)}'"
                for k, v in cfg.table_properties.items()
            )
            self.spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({props})")

    # -------------------------------------------------------- optimize --
    def _optimize_post_write(self) -> None:
        """OPTIMIZE [ZORDER] equivalent (framework.py:256-266). Failures
        are non-fatal, matching the reference's warn-and-continue."""
        from python_tool_setup_spark.ingestion.maintenance import optimize_layout

        try:
            optimize_layout(
                self.spark,
                path=self.cfg.target_path,
                table=self.cfg.full_table_name,
                fmt=self.cfg.target_format,
                zorder_by=self.cfg.zorder_by,
                partition_by=self.cfg.partition_by,
            )
        except Exception as exc:  # noqa: BLE001
            _log.warning("post-write optimize failed: %s", exc)
