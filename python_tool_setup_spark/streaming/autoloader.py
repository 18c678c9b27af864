"""Incremental file ingestion — OSS equivalent of Databricks Auto Loader.

Parity target: the reference's ``_write_stream``
(framework.py:177-209): ``readStream.format("cloudFiles")`` with a
schema location and inferColumnTypes, written as a checkpointed delta
append, blocking until the source is drained.

OSS re-expression:
- source: Structured Streaming *file source* — same incremental
  discovery semantics (new files per micro-batch, exactly-once via the
  checkpointed file index);
- schema: a JSON **schema registry** file we manage (Auto Loader's
  ``cloudFiles.schemaLocation``). First run infers from existing files
  and persists; later runs re-infer and additively merge new columns
  (Auto Loader's evolution mode), persisting the union;
- drain-and-return: ``trigger(availableNow=True)`` + awaitTermination —
  the cleaner OSS idiom for the reference's ``processAllAvailable()``
  (framework.py:202,207);
- sink: parquet (or delta when installed) append with
  ``checkpointLocation``; ``start(path)`` for external targets,
  ``toTable`` for managed (framework.py:200-207).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from python_tool_setup_spark.config import IngestionConfig
from python_tool_setup_spark.sources.fs import commit_object, read_committed


def _registry_file(cfg: IngestionConfig) -> str:
    base = cfg.schema_registry_path or f"{cfg.checkpoint_path.rstrip('/')}/_schema"
    return f"{base.rstrip('/')}/schema.json"


def load_or_evolve_schema(spark: SparkSession, cfg: IngestionConfig) -> StructType:
    """Return the schema to stream with; persist first-seen / evolved
    schemas to the registry (additive evolution: new columns appended,
    existing column types keep their registered type)."""
    reg_path = _registry_file(cfg)
    stored = read_committed(spark, reg_path)
    registered = None if stored is None else StructType.fromJson(json.loads(stored))

    if cfg.schema is not None:
        inferred = StructType.fromDDL(cfg.schema)
    else:
        from python_tool_setup_spark.sources.files import read_batch

        inferred = read_batch(
            spark,
            cfg.source_path,
            cfg.source_format,
            cfg.source_options,
            schema=None,
            infer_schema=cfg.infer_schema,
        ).schema

    if registered is None:
        merged = inferred
    else:
        merged = StructType(list(registered.fields))
        have = {f.name for f in registered.fields}
        for f in inferred.fields:
            if f.name not in have:
                merged = merged.add(f)
    if registered is None or merged.jsonValue() != registered.jsonValue():
        commit_object(spark, reg_path, json.dumps(merged.jsonValue()))
    return merged


def _merge_microbatch(cfg: IngestionConfig):
    """foreachBatch body for streaming upsert: each micro-batch runs the
    batch pipeline's merge (bootstrap of an absent or data-less target,
    schema evolution, staged rewrite).

    foreachBatch is at-least-once; replaying the SAME micro-batch
    through the merge is a fixpoint (matched rows are replaced with
    identical values), so the sink is effectively idempotent. A batch
    with two rows on one target row's key fails the merge with
    ``MergeKeyError`` unless ``cfg.dedup_order`` makes it unique."""
    from python_tool_setup_spark.ingestion.base import IngestionPipeline

    def apply(batch_df, batch_id: int) -> None:
        IngestionPipeline(batch_df.sparkSession, cfg)._merge_into(batch_df)

    return apply


def run_autoloader(spark: SparkSession, cfg: IngestionConfig) -> StructType:
    """One drain-everything-available streaming run (T1-T3; merge mode
    runs the upsert per micro-batch via foreachBatch); returns its schema."""
    schema = load_or_evolve_schema(spark, cfg)
    reader = (
        spark.readStream.format(cfg.source_format)
        .schema(schema)
        .options(**(cfg.source_options or {}))
    )
    if cfg.source_format == "csv":
        reader = reader.option("header", "true")
    writer = (
        reader.load(cfg.source_path).writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(availableNow=True)
    )
    if cfg.write_mode == "merge":
        query = writer.foreachBatch(_merge_microbatch(cfg)).start()
    else:
        writer = writer.format(cfg.target_format)
        if cfg.target_format == "delta":
            writer = writer.option("mergeSchema", "true")
        if cfg.partition_by:
            writer = writer.partitionBy(*cfg.partition_by)
        if cfg.target_path:
            query = writer.start(cfg.target_path)
        else:
            query = writer.toTable(cfg.full_table_name)
    query.awaitTermination()
    return schema
