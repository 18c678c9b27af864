"""Ingestion pipeline lifecycle.

Parity with the reference's ``BaseIngestion.run()`` flow
(framework.py:87-118): validate → plan (dry-run short-circuit) →
namespace DDL → read → write (append / overwrite / merge | stream) →
table registration + metadata → post-write optimize. The execution is
all DataFrame-API; storage is Parquet-first with a Delta backend that
activates automatically when delta-spark is importable (the build env
does not ship it — SURVEY.md §7).

Scale notes:
- append/overwrite go straight through the DataFrame writer with
  optional ``partitionBy`` — no driver materialization ever.
- merge without Delta is a staged rewrite: the merged relation, one full
  outer join of target and source on the merge keys (the target is
  scanned once; both sides shuffle on the keys, so the rewrite spreads
  over every core and AQE sizes the output files), is written to a
  staging dir, then promoted with a metadata-only rename. At 100 TB the
  right backend is Delta/Iceberg (file-level rewrite); the staged
  rewrite is the dependency-free fallback with identical semantics.
  A target that holds data but cannot be read fails the merge; only an
  absent or data-less target is bootstrapped by a plain write.
- streaming uses the file-source + availableNow trigger (OSS equivalent
  of Auto Loader's incremental listing, framework.py:177-209) with a
  schema registry for evolution.
"""

from __future__ import annotations

import logging
import uuid

from pyspark.sql import DataFrame, SparkSession

from python_tool_setup_spark.config import IngestionConfig, IngestionError
from python_tool_setup_spark.operators.merge import merge_upsert
from python_tool_setup_spark.sources.files import read_batch
from python_tool_setup_spark.sources.fs import has_data_files, replace_dir

try:  # optional Delta backend (not installed in the build env)
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except Exception:  # noqa: BLE001
    DeltaTable = None
    _HAS_DELTA = False

_log = logging.getLogger(__name__)


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
            self._run_stream()
        else:
            df = self.read()
            self.write(df)
        self._register_table()
        self._apply_table_metadata()
        if cfg.optimize_after_write:
            self._optimize_post_write()
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
        cfg = self.cfg
        if cfg.write_mode == "merge":
            self._merge_into(df)
            return
        writer = df.write.format(cfg.target_format).mode(cfg.write_mode)
        if cfg.partition_by:
            writer = writer.partitionBy(*cfg.partition_by)
        if cfg.write_mode == "overwrite":
            # keep evolving sources writable over existing targets
            writer = writer.option("overwriteSchema", "true")
        else:
            writer = writer.option("mergeSchema", "true")
        if cfg.target_path:
            writer.save(cfg.target_path)
        else:
            writer.saveAsTable(cfg.full_table_name)

    # ----------------------------------------------------------- merge --
    def _target_df(self) -> DataFrame | None:
        """The merge target, or None when there is none yet: a missing
        table, or a path that holds no data files. A target with data
        that cannot be read raises — bootstrapping over it would
        replace the table with the source batch."""
        cfg = self.cfg
        if cfg.target_path:
            if not has_data_files(self.spark, cfg.target_path):
                return None
            return self.spark.read.format(cfg.target_format).load(cfg.target_path)
        if self.spark.catalog.tableExists(cfg.full_table_name):
            return self.spark.table(cfg.full_table_name)
        return None

    def _merge_into(self, source: DataFrame) -> None:
        """Upsert semantics of Delta ``whenMatchedUpdateAll /
        whenNotMatchedInsertAll`` (reference framework.py:211-231)."""
        cfg = self.cfg
        if _HAS_DELTA and cfg.target_format == "delta":
            self._merge_delta(source)
            return
        target = self._target_df()
        if target is None:
            # bootstrap: first merge == plain write (framework.py:214-223)
            self.write_initial(source)
            return
        # schema evolution: new source columns appear, old rows get nulls
        merged = merge_upsert(
            target,
            source,
            keys=cfg.merge_keys,
            source_dedup_order=cfg.dedup_order,
            evolve_schema=True,
        )
        self._staged_overwrite(merged)

    def _merge_delta(self, source: DataFrame) -> None:
        cfg = self.cfg
        target = self._target_df()
        if target is None:
            self.write_initial(source)
            return
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

    def write_initial(self, df: DataFrame) -> None:
        cfg = self.cfg
        writer = df.write.format(cfg.target_format).mode("overwrite")
        if cfg.partition_by:
            writer = writer.partitionBy(*cfg.partition_by)
        if cfg.target_path:
            writer.save(cfg.target_path)
        else:
            writer.saveAsTable(cfg.full_table_name)

    def _staged_overwrite(self, df: DataFrame) -> None:
        """Safely overwrite a target we are also reading from: write the
        new relation to a staging dir, then metadata-only promote."""
        cfg = self.cfg
        if cfg.target_path:
            staging = f"{cfg.target_path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
            writer = df.write.format(cfg.target_format).mode("overwrite")
            if cfg.partition_by:
                writer = writer.partitionBy(*cfg.partition_by)
            writer.save(staging)
            replace_dir(self.spark, staging, cfg.target_path)
            self.spark.catalog.clearCache()
            if cfg.table:
                # external table metadata may cache old files
                self.spark.sql(f"REFRESH TABLE {cfg.full_table_name}")
        else:
            # Managed table: Spark refuses to overwrite a table being read,
            # so materialize to a scratch path first, then rewrite from it.
            from python_tool_setup_spark.sources.fs import delete_path

            warehouse = self.spark.conf.get(
                "spark.sql.warehouse.dir", "file:/tmp/spark-warehouse"
            )
            staging = f"{warehouse.rstrip('/')}/__merge_staging_{uuid.uuid4().hex[:8]}"
            df.write.format(cfg.target_format).mode("overwrite").save(staging)
            staged = self.spark.read.format(cfg.target_format).load(staging)
            writer = staged.write.format(cfg.target_format).mode("overwrite")
            if cfg.partition_by:
                writer = writer.partitionBy(*cfg.partition_by)
            writer.option("overwriteSchema", "true").saveAsTable(cfg.full_table_name)
            delete_path(self.spark, staging)

    # ------------------------------------------------------- streaming --
    def _run_stream(self) -> None:
        from python_tool_setup_spark.streaming.autoloader import run_autoloader

        run_autoloader(self.spark, self.cfg)

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

    def _register_table(self) -> None:
        """External-table registration (framework.py:240-246)."""
        cfg = self.cfg
        if not (cfg.table and cfg.target_path):
            return
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {cfg.full_table_name} "
            f"USING {cfg.target_format.upper()} LOCATION '{cfg.target_path}'"
        )
        if cfg.partition_by:
            # hive-style partition dirs need explicit discovery
            self.spark.sql(f"MSCK REPAIR TABLE {cfg.full_table_name}")
        self.spark.sql(f"REFRESH TABLE {cfg.full_table_name}")

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
