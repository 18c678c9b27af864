"""Pipeline configuration — the declarative "logical plan" of an
ingestion pipeline.

Capability parity with the reference's config surface
(`framework.py:41-80` in /root/reference: source path/format/options,
schema inference toggle, 3-level namespace, external vs managed target,
append/overwrite/merge write modes, batch vs streaming ingest modes,
merge keys, partition columns, Z-order columns, checkpoint & schema
locations, table comment/properties, dry-run). The design is our own:
a frozen dataclass validated up front, consumed by
``ingestion.base.IngestionPipeline``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Literal

WriteMode = Literal["append", "overwrite", "merge"]
IngestMode = Literal["batch", "stream"]


class IngestionError(ValueError):
    """Invalid pipeline configuration (parity: framework.py:84-85)."""


@dataclass
class IngestionConfig:
    """One source → target pipeline description.

    Exactly one of (``table``, ``target_path``) may be omitted:
    - ``target_path`` set, ``table`` set   → external table at that path
    - ``target_path`` set, ``table`` None  → pure path sink
    - ``target_path`` None, ``table`` set  → managed table
    """

    source_path: str
    source_format: str = "json"  # csv | json | parquet | orc | text | binaryFile
    source_options: dict[str, str] = field(default_factory=dict)
    schema: str | None = None  # explicit DDL string; None → infer
    infer_schema: bool = True

    catalog: str | None = None  # OSS single-catalog: informational only
    database: str | None = None
    table: str | None = None
    target_path: str | None = None
    target_format: str = "parquet"  # parquet | delta (delta needs delta-spark)

    write_mode: WriteMode = "append"
    ingest_mode: IngestMode = "batch"
    merge_keys: list[str] | None = None
    dedup_order: list[str] | None = None  # make merge source unique per key

    partition_by: list[str] | None = None
    zorder_by: list[str] | None = None
    checkpoint_path: str | None = None  # required for ingest_mode="stream"
    schema_registry_path: str | None = None  # streaming schema evolution store

    table_comment: str | None = None
    table_properties: dict[str, str] = field(default_factory=dict)
    optimize_after_write: bool = False
    dry_run: bool = False

    # ------------------------------------------------------------------
    def validate(self) -> None:
        """Fail fast on contradictory configs (parity: framework.py:121-126)."""
        if not self.source_path:
            raise IngestionError("source_path is required")
        if self.table is None and self.target_path is None:
            raise IngestionError("one of table / target_path is required")
        if self.write_mode == "merge" and not self.merge_keys:
            raise IngestionError("write_mode='merge' requires merge_keys")
        if self.ingest_mode == "stream" and not self.checkpoint_path:
            raise IngestionError("ingest_mode='stream' requires checkpoint_path")
        if self.ingest_mode == "stream" and self.write_mode == "overwrite":
            raise IngestionError("write_mode='overwrite' is batch-only")
        if (
            self.ingest_mode == "stream"
            and self.write_mode == "merge"
            and not self.target_path
        ):
            raise IngestionError(
                "streaming merge needs a target_path (foreachBatch upsert "
                "into a path-backed table)"
            )
        if self.write_mode not in ("append", "overwrite", "merge"):
            raise IngestionError(f"unknown write_mode {self.write_mode!r}")
        if self.ingest_mode not in ("batch", "stream"):
            raise IngestionError(f"unknown ingest_mode {self.ingest_mode!r}")

    # ------------------------------------------------------------------
    @property
    def full_table_name(self) -> str | None:
        """database-qualified name (catalog is informational in OSS Spark;
        parity: framework.py:79-80)."""
        if self.table is None:
            return None
        return f"{self.database}.{self.table}" if self.database else self.table

    def plan(self) -> str:
        """Human-readable pipeline plan — the reference's EXPLAIN
        (parity: framework.py:128-137)."""
        lines = [
            "IngestionPipeline plan:",
            f"  mode         : {self.ingest_mode} / {self.write_mode}",
            f"  source       : {self.source_format} @ {self.source_path}",
            f"  target       : "
            + (
                f"table {self.full_table_name}"
                + (f" (external @ {self.target_path})" if self.target_path else " (managed)")
                if self.table
                else f"path {self.target_path}"
            )
            + f" [{self.target_format}]",
        ]
        if self.merge_keys:
            lines.append(f"  merge_keys   : {self.merge_keys}")
        if self.partition_by:
            lines.append(f"  partition_by : {self.partition_by}")
        if self.zorder_by:
            lines.append(f"  zorder_by    : {self.zorder_by}")
        if self.checkpoint_path:
            lines.append(f"  checkpoint   : {self.checkpoint_path}")
        if self.table_properties:
            lines.append(f"  properties   : {self.table_properties}")
        return "\n".join(lines)
