"""Upsert (MERGE) as a pure DataFrame rewrite.

Parity target: the reference's Delta merge —
``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` built from an
AND-joined key-equality condition (reference ``framework.py:211-231``,
``:226-231``). Semantics reproduced here without requiring delta-spark:

  result = target FULL OUTER JOIN source USING (keys), each non-key
           column the source value if the key matched, else the target's

"update all" replaces every column of EACH matched target row with the
source row — duplicate-key target rows each survive as one updated
copy (SQL/Delta MERGE preserves target multiplicity; found by the
hypothesis property suite).
Like Delta, two or more source rows that match one target row abort
the merge: each source row carries its key's source row count, and a
``raise_error`` fires on a matched row whose count is above one. The
count is a window over the source's own key shuffle, so the check adds
no job; ``merge_key_errors`` turns the failed action into
:class:`MergeKeyError`. Duplicate source keys that match nothing are
inserted, as Delta inserts them. Callers make the source unique per key
first with ``relational.dedup_by_keys``.

Scale: one full outer join scans the target once and shuffles both
sides once on the merge keys, spreading the rewrite over every core
whatever the target's file layout; AQE sizes the output partitions.
Null keys never match (SQL equality), so like Delta null-key source
rows are inserted and null-key target rows are kept.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_tool_setup_spark.sources.fs import (
    delete_path, list_files, path_exists, replace_dir,
)


class MergeKeyError(ValueError):
    """Duplicate merge keys in source (Delta would raise the same)."""


_DUPLICATE_MATCH = "two or more source rows match one target row"


@contextmanager
def merge_key_errors():
    """Run a merged relation's action, raising :class:`MergeKeyError`
    where its duplicate-key check fired (Spark reports the check as the
    ``USER_RAISED_EXCEPTION`` of the failed job)."""
    try:
        yield
    except Exception as exc:
        if _DUPLICATE_MATCH in str(exc):
            raise MergeKeyError(
                f"merge source: {_DUPLICATE_MATCH}; dedup it "
                "(dedup_by_keys) or pre-aggregate"
            ) from exc
        raise


class ConcurrentMergeError(RuntimeError):
    """A touched bucket changed between this merge's read and its
    promote — the optimistic-concurrency conflict Delta raises as
    ConcurrentAppend/DeleteException (reference ``framework.py:227-231``
    relies on Delta's check; the parquet-bucket fallback reproduces it
    at bucket granularity). Disjoint-bucket writers never see it; the
    loser of an overlapping race must re-run (replay is a fixpoint)."""


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """Return the merged relation: matched targets replaced by their
    source row, unmatched source rows appended, unmatched targets kept.
    An action on it fails if two source rows match one target row; run
    the action inside :func:`merge_key_errors` to get a MergeKeyError.

    ``evolve_schema=True`` is the Delta ``mergeSchema``/autoMerge
    behavior for a source that ADDS columns: the target gains each new
    column (null for pre-existing rows), then the merge proceeds on the
    widened schema. The source must carry every target column.
    """
    keys = list(keys)
    if evolve_schema:
        missing = [c for c in target.columns if c not in source.columns]
        if missing:
            raise MergeKeyError(
                f"schema evolution requires the source to carry every "
                f"target column; missing {missing}"
            )
        target = target.withColumns({
            f.name: F.lit(None).cast(f.dataType)
            for f in source.schema.fields if f.name not in target.columns
        })

    # Source values ride under names with the marker's prefix, which no
    # target column starts with, so nothing on the joined row collides.
    marker = "__merge_src"
    while any(c.lower().startswith(marker) for c in target.columns):
        marker += "_"
    vals = {c: f"{marker}{i}" for i, c in enumerate(target.columns) if c not in keys}
    # The marker is the number of source rows with the row's key.
    src = source.select(
        *keys,
        *[F.col(c).alias(v) for c, v in vals.items()],
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias(marker),
    )
    # A matched NULL source value still overwrites (no coalesce).
    out = {
        c: F.when(F.col(marker).isNotNull(), F.col(v)).otherwise(F.col(c))
        for c, v in vals.items()
    }
    # The duplicate check rides the first key column, once per row.
    matched = reduce(lambda a, b: a & b, [target[k].isNotNull() for k in keys])
    out[keys[0]] = F.when(
        matched & (F.col(marker) > 1),
        F.raise_error(F.lit(f"merge on {keys}: {_DUPLICATE_MATCH}")),
    ).otherwise(F.col(keys[0]))
    return target.join(src, on=keys, how="full_outer").select(*[
        out[c].alias(c) if c in out else c for c in target.columns
    ])


# ------------------------------------------- partition-pruned merge ----
BUCKET_COL = "__bucket"


def bucket_of(keys: Sequence[str], num_buckets: int):
    """Deterministic bucket id for a key tuple (xxhash64 → pmod)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))


def write_bucketed_target(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    num_buckets: int,
) -> None:
    """Lay a merge target out as parquet hash-bucket partition dirs
    (``__bucket=N/``) so future merges rewrite only touched buckets.

    Rows are shuffled onto their bucket before the write so each task
    writes exactly ONE bucket dir (one file per bucket) instead of
    every task appending a sliver to every dir — num_tasks × num_buckets
    small files is the classic partitionBy write amplification. At
    larger volumes raise the partition count to a multiple of
    ``num_buckets`` for more write parallelism (files-per-bucket > 1 is
    fine; the merge prunes by directory)."""
    bucketed = df.withColumn(BUCKET_COL, bucket_of(keys, num_buckets))
    bucketed.repartition(num_buckets, F.col(BUCKET_COL)).write.partitionBy(
        BUCKET_COL
    ).mode("overwrite").parquet(path)


def merge_upsert_bucketed(
    spark,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    num_buckets: int,
    on_staged=None,  # kept: the commit seam the conflict tests substitute
) -> list[int]:
    """MERGE into a bucket-partitioned target touching ONLY the buckets
    the source hashes into; returns the rewritten bucket ids.

    This is the 100 TB shape of the Parquet-fallback merge: a naive
    rewrite is O(table) per batch, but with the target laid out by
    ``write_bucketed_target`` the work is O(touched buckets) — the same
    file-pruning idea as Delta's join-based MERGE rewrite. The driver
    sees only the distinct bucket ID LIST (bounded by ``num_buckets``,
    metadata not data). Untouched bucket dirs are not read, not
    rewritten, not renamed.

    Each touched bucket is promoted with a metadata-only dir rename;
    replaying the same source is a fixpoint per bucket, so a failure
    between bucket promotes is repaired by rerunning the merge.

    Optimistic concurrency (Delta's writer-conflict model at bucket
    granularity): the file listing of every touched bucket is snapshot
    at read time and re-checked immediately before that bucket's
    promote; a mismatch raises :class:`ConcurrentMergeError` before
    the stale result overwrites the other writer's commit. Two merges
    into DISJOINT bucket sets therefore both commit; overlapping
    writers conflict detectably. ``on_staged`` (optional) runs after
    the staging write and before any promote — a commit-hook seam for
    metrics and for deterministic conflict tests.
    """
    def _fingerprint(bucket: int):
        bdir = f"{target_path}/{BUCKET_COL}={bucket}"
        if not path_exists(spark, bdir):
            return None
        return sorted((name, size) for name, size, _ in list_files(spark, bdir))

    keys = list(keys)
    src = source.withColumn(BUCKET_COL, bucket_of(keys, num_buckets))
    touched = sorted(
        r[0] for r in src.select(BUCKET_COL).distinct().collect()
    )
    read_state = {b: _fingerprint(b) for b in touched}
    existing = [b for b in touched if read_state[b] is not None]
    if existing:
        tgt = spark.read.option("basePath", target_path).parquet(
            *[f"{target_path}/{BUCKET_COL}={b}" for b in existing]
        )
        merged = merge_upsert(tgt, src.select(*tgt.columns), keys)
    else:
        merged = src
    staging = f"{target_path.rstrip('/')}__mstage_{uuid.uuid4().hex[:8]}"
    try:
        with merge_key_errors():
            merged.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(staging)
    except Exception:
        delete_path(spark, staging)
        raise
    if on_staged is not None:
        on_staged()
    conflicts = [b for b in touched if _fingerprint(b) != read_state[b]]
    if conflicts:
        delete_path(spark, staging)
        raise ConcurrentMergeError(
            f"buckets {conflicts} changed since this merge read them; "
            "another writer committed first — re-run the merge"
        )
    for b in touched:
        replace_dir(
            spark,
            f"{staging}/{BUCKET_COL}={b}",
            f"{target_path}/{BUCKET_COL}={b}",
        )
    delete_path(spark, staging)
    return touched


def read_bucketed_target(spark, target_path: str) -> DataFrame:
    """Read a bucketed merge target (bucket col dropped)."""
    return spark.read.parquet(target_path).drop(BUCKET_COL)


def merge_apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "_op",
) -> DataFrame:
    """Apply a CDC log onto a snapshot: each change row carries
    ``op_col`` ∈ {'upsert', 'delete'}; the log must be compacted to
    one row per key (``dedup_by_keys`` on the change order keeps the
    latest), upserts replace-or-append exactly like
    :func:`merge_upsert`, and deletes REMOVE matching target rows —
    the whenMatchedDelete arm a plain upsert merge lacks.

    One anti-join and a union:
    the anti-join keeps target rows whose key has no change, surviving
    upserts append. O(target + changes) with shuffles only
    on the merge key — CDC volume, not table size, drives the cost of
    a typical incremental apply.

    Op validation is LAZY: unknown or NULL ops abort the apply when
    the returned plan first executes (Spark raises a
    ``SparkRuntimeException`` wrapping the USER_RAISED_EXCEPTION from
    ``raise_error``), not as an eager ``ValueError`` at call time —
    the guard rides the plan so validation costs zero extra scans.
    Callers quarantining bad batches must catch around the ACTION
    (write/collect), not around this call.
    """
    keys = list(keys)
    # Fail fast on unknown or NULL ops: the anti-join removes EVERY
    # changed key from the target, so a typo'd op ('update', 'insert',
    # ...) or a NULL op would otherwise behave as a silent delete.
    # The validation RIDES the existing plan instead of running its
    # own eager scan: every change row passes through raise_error-
    # guarded projection, so the first bad op aborts the apply job
    # itself with zero extra passes over `changes`.
    op_ok = F.col(op_col).isNotNull() & F.col(op_col).isin(
        "upsert", "delete"
    )
    changes = changes.withColumn(
        op_col,
        F.when(op_ok, F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"merge_apply_cdc: unknown op in {op_col!r} "
                        "(expected 'upsert' or 'delete'): "
                    ),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                )
            )
        ),
    )
    untouched = target.join(
        changes.select(*keys), on=keys, how="left_anti"
    )
    upserts = changes.filter(F.col(op_col) == "upsert").select(
        *target.columns
    )
    return untouched.unionByName(upserts)
