"""Versioned tables: time travel + change-data-feed emulation over
plain Parquet.

Delta-parity features the reference's table properties imply
(`delta.enableChangeDataFeed`, reference framework.py:345) but that
plain Spark lacks. Layout:

    <table>/
      _versions.json          # manifest: ordered list of version ids
      v=0/  v=1/  ...         # immutable Parquet snapshot dirs

- **Writes are copy-on-write and atomic**: a new snapshot dir is fully
  written, then the manifest is swapped — readers of version N never
  see a partial write (same staged-rewrite discipline as merge/
  compaction). The manifest itself is committed by rename from a
  hidden staged sibling (``commit_object``), so a crash mid-swap
  leaves the previous manifest readable.
- **Time travel** = read the snapshot dir for version N; zero extra
  cost over a plain read.
- **Change feed** between versions = a full-outer join of the two
  snapshots on the table key, emitting Delta-CDF-shaped rows
  (`_change_type` in insert / delete / update_preimage /
  update_postimage). One shuffle per side; at 100 TB both sides are
  partition-pruned to the key ranges that could differ if the table is
  written partitioned.

Version dirs are immutable once the manifest references them, so the
change feed between any two historical versions is reproducible
forever (until versions are vacuumed).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.sources.fs import (
    commit_object,
    delete_path,
    read_committed,
)


def _manifest_path(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/_versions.json"


def list_versions(spark: SparkSession, table_path: str) -> list[int]:
    manifest = read_committed(spark, _manifest_path(table_path))
    return [] if manifest is None else json.loads(manifest)["versions"]


def _version_dir(table_path: str, version: int) -> str:
    return f"{table_path.rstrip('/')}/v={version}"


def write_version(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
) -> int:
    """Write `df` as the next version of the table; returns the new
    version id. Snapshot first, manifest swap last (atomic commit)."""
    versions = list_versions(spark, table_path)
    new_v = (versions[-1] + 1) if versions else 0
    df.write.mode("overwrite").parquet(_version_dir(table_path, new_v))
    commit_object(
        spark,
        _manifest_path(table_path),
        json.dumps({"versions": versions + [new_v]}),
    )
    return new_v


def read_version(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
) -> DataFrame:
    """Time travel: read snapshot `version` (default: latest)."""
    versions = list_versions(spark, table_path)
    if not versions:
        raise ValueError(f"no versions at {table_path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return spark.read.parquet(_version_dir(table_path, version))


def vacuum_versions(spark: SparkSession, table_path: str, keep: int) -> list[int]:
    """Drop all but the last `keep` versions; returns what remains."""
    versions = list_versions(spark, table_path)
    kept, dropped = versions[-keep:], versions[:-keep]
    for v in dropped:
        delete_path(spark, _version_dir(table_path, v))
    commit_object(spark, _manifest_path(table_path), json.dumps({"versions": kept}))
    return kept


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Change feed between two snapshots, Delta-CDF row shape.

    Full outer join on the key: key only in new -> insert; only in old
    -> delete; both but any non-key column differs -> update_preimage
    (old values) + update_postimage (new values). Null-safe comparison
    via a canonical struct equality, so NULL -> value transitions are
    detected.
    """
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.struct(*val_cols).alias("__old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.struct(*val_cols).alias("__new"),
        F.lit(True).alias("__in_new"),
    )
    cond = [o[f"__k_{k}"].eqNullSafe(n[f"__k_{k}"]) for k in keys]
    j = o.join(n, cond, "full_outer")
    key_out = [
        F.coalesce(o[f"__k_{k}"], n[f"__k_{k}"]).alias(k) for k in keys
    ]

    # one join, one pass: each joined row yields 0-2 change entries via
    # an array + explode (a union of 4 filtered branches re-evaluates
    # the join once per branch family)
    def entry(kind: str, payload) -> F.Column:
        return F.struct(F.lit(kind).alias("kind"), payload.alias("payload"))

    changes = (
        F.when(F.col("__in_old").isNull(), F.array(entry("insert", F.col("__new"))))
        .when(F.col("__in_new").isNull(), F.array(entry("delete", F.col("__old"))))
        .when(
            ~F.col("__old").eqNullSafe(F.col("__new")),
            F.array(
                entry("update_preimage", F.col("__old")),
                entry("update_postimage", F.col("__new")),
            ),
        )
        .otherwise(F.array())
    )
    return (
        j.select(*key_out, F.explode(changes).alias("__c"))
        .select(*keys, "__c.payload.*", F.col("__c.kind").alias("_change_type"))
    )


def publish_tables(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
) -> int:
    """MULTI-table atomic publish: write a new snapshot of every table
    in ``tables``, then commit ONE root manifest referencing all of
    them — readers resolving through :func:`read_published` see either
    the complete old set or the complete new set, never a mix (the
    cross-table consistency single-table manifests can't give: with
    per-table commits a reader can observe table A at v1 joined to
    table B still at v0).

    Layout: ``root/<name>/v=<N>`` snapshots (reusing the single-table
    version dirs) + ``root/_PUBLISH.json`` holding
    ``{"version": N, "tables": {name: snapshot_version}}``. Snapshot
    writes happen first; the root-manifest swap is the commit point —
    a writer crash before it leaves invisible orphans only.
    Only a missing root manifest means a first publish; an unreadable
    one raises. Returns the new publish version.
    """
    pub_path = f"{root.rstrip('/')}/_PUBLISH.json"
    current = read_committed(spark, pub_path)
    version = -1 if current is None else json.loads(current)["version"]
    refs = {}
    for name, df in tables.items():
        refs[name] = write_version(spark, df, f"{root.rstrip('/')}/{name}")
    new_v = version + 1
    commit_object(
        spark, pub_path, json.dumps({"version": new_v, "tables": refs})
    )
    return new_v


def read_published(
    spark: SparkSession,
    root: str,
    name: str,
) -> DataFrame:
    """Read table ``name`` as of the latest multi-table publish. All
    tables read at the same publish are mutually consistent by
    construction."""
    pub_path = f"{root.rstrip('/')}/_PUBLISH.json"
    manifest = read_committed(spark, pub_path)
    if manifest is None:
        raise FileNotFoundError(f"nothing published at {root}")
    v = json.loads(manifest)["tables"][name]
    return read_version(spark, f"{root.rstrip('/')}/{name}", v)


def clean_orphans(spark: SparkSession, table_path: str) -> list[str]:
    """Remove version directories the manifest does not reference —
    the leftovers of writers that crashed between snapshot and commit
    (Iceberg's remove_orphan_files). Safe by construction: the
    manifest swap is the commit point, so an unreferenced ``v*`` dir
    is by definition invisible to every reader. Returns the removed
    dir names. Metadata-only: lists one directory level, never reads
    data files."""
    from python_tool_setup_spark.sources.fs import (
        delete_path,
        hadoop_fs,
        _jpath,
    )

    # Match the REAL snapshot layout (_version_dir): 'v=<digits>'. A
    # crashed writer leaves exactly such a dir (snapshot write precedes
    # the manifest swap), so any other naming scheme would make this a
    # no-op on the very orphans it exists to remove.
    referenced = {f"v={v}" for v in list_versions(spark, table_path)}
    fs = hadoop_fs(spark, table_path)
    removed: list[str] = []
    for status in fs.listStatus(_jpath(spark, table_path)):
        name = status.getPath().getName()
        if (
            status.isDirectory()
            and name.startswith("v=")
            and name[2:].isdigit()
            and name not in referenced
        ):
            delete_path(spark, f"{table_path}/{name}")
            removed.append(name)
    return sorted(removed)


def forget_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    keys: list,
) -> dict:
    """Right-to-be-forgotten purge: physically remove every row whose
    ``key_col`` is in ``keys`` from the WHOLE table — current version
    AND history. Time travel must stop resurrecting the subject, so
    a tombstone/deletion-vector is not enough:

    1. write a new version excluding the keys (the go-forward truth);
    2. vacuum every older version (their files embed the subject);
    3. remove crashed-writer orphans the manifest never referenced.

    Returns an audit dict: every parquet file still under the table
    is re-scanned for the keys (``files_remaining`` is O(versions x
    files), the scan is one bounded Spark job), so the caller holds
    proof of physical absence, not just logical deletion. Cost is one
    table rewrite — the honest price of physical erasure; at 100 TB
    run it batched per retention window, exactly like Delta/Iceberg
    purge jobs.
    """
    import os

    latest = read_version(spark, table_path)
    # Null-safe keep predicate: a bare ~isin(keys) is NULL (dropped by
    # filter) for NULL-keyed rows, silently purging rows nobody asked
    # to forget. NULL never equals a subject key, so it is always kept.
    scrubbed = latest.filter(
        F.col(key_col).isNull() | ~F.col(key_col).isin(keys)
    )
    write_version(spark, scrubbed, table_path)
    vacuum_versions(spark, table_path, keep=1)
    clean_orphans(spark, table_path)

    files = []
    for root, _dirs, names in os.walk(table_path):
        files += [os.path.join(root, f) for f in names if f.endswith(".parquet")]
    residual = (
        spark.read.parquet(*files).filter(F.col(key_col).isin(keys)).count()
        if files
        else 0
    )
    return {
        "files_remaining": len(files),
        "residual_key_rows": residual,
        "purge_complete": residual == 0 and len(files) > 0,
    }
