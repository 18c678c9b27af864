"""Hadoop FileSystem helpers (via the JVM gateway).

Used for the metadata-only operations an engine needs around DataFrame
writers: staged-directory swaps (safe overwrite-in-place), existence
probes, and single-object put/get. These work for every scheme the
Hadoop connectors support (file://, hdfs://, s3a://, abfss://, ...) so
the same code path runs locally and on a cluster — the replacement for
the reference's boto3 client utilities (`aws_utils/package1/test.py:44-92`),
minus the single-process bottleneck.

Bulk data NEVER moves through these helpers — only bytes the caller
explicitly materializes (configs, schema registries, small artifacts).
"""

from __future__ import annotations

import weakref
from types import SimpleNamespace

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Per-SparkContext memo of the JVM handles these helpers use. A JVMView
# lookup such as ``jvm.org.apache.hadoop.fs.Path`` costs one py4j round
# trip per name part, and a manifest read did several per call. Keyed
# weakly, as ``tables._TABLE_MEMO`` is, so a stopped context is
# collectable and a new one resolves its own handles.
_JVM_MEMO: "weakref.WeakKeyDictionary[SparkContext, SimpleNamespace]" = (
    weakref.WeakKeyDictionary()
)


def _handles(spark: SparkSession) -> SimpleNamespace:
    sc = spark.sparkContext
    h = _JVM_MEMO.get(sc)
    if h is None:
        jvm = sc._jvm
        h = _JVM_MEMO[sc] = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            conf=sc._jsc.hadoopConfiguration(),
            ByteArrayOutputStream=jvm.java.io.ByteArrayOutputStream,
            IOUtils=jvm.org.apache.hadoop.io.IOUtils,
        )
    return h


def _jpath(spark: SparkSession, path: str):
    return _handles(spark).Path(path)


def hadoop_fs(spark: SparkSession, path: str):
    """FileSystem instance for the scheme of ``path``."""
    return _jpath(spark, path).getFileSystem(_handles(spark).conf)


def path_exists(spark: SparkSession, path: str) -> bool:
    return hadoop_fs(spark, path).exists(_jpath(spark, path))


def delete_path(spark: SparkSession, path: str) -> bool:
    return hadoop_fs(spark, path).delete(_jpath(spark, path), True)


def has_data_files(spark: SparkSession, path: str) -> bool:
    """True if ``path`` is a file or a directory tree holding a file a
    Spark reader would read. Like Spark's file index, names starting
    with ``_`` or ``.`` are skipped (``_SUCCESS``, ``.crc``,
    ``_spark_metadata/``) unless they are ``k=v`` partition dirs."""
    fs, root = hadoop_fs(spark, path), _jpath(spark, path)
    if not fs.exists(root):
        return False
    base = fs.makeQualified(root).toUri().getPath().rstrip("/")
    files = fs.listFiles(root, True)
    while files.hasNext():
        rel = files.next().getPath().toUri().getPath()[len(base):]
        if not any(
            p.startswith(("_", ".")) and "=" not in p for p in rel.split("/")
        ):
            return True
    return False


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


def _with_backup(spark: SparkSession, final: str):
    """(fs, final, backup): the backup is the hidden sibling that
    ``replace_dir`` parks the old ``final`` under, which Spark's file
    index skips even when ``final`` is a ``k=v`` partition dir."""
    fpath = _jpath(spark, final)
    backup = _handles(spark).Path(fpath.getParent(), f".{fpath.getName()}.replaced")
    return hadoop_fs(spark, final), fpath, backup


def restore_backup(spark: SparkSession, final: str) -> None:
    """Finish a ``replace_dir`` that stopped between its renames: drop
    the backup if ``final`` is in place, else rename the backup back."""
    fs, fpath, bpath = _with_backup(spark, final)
    if fs.exists(bpath):
        if fs.exists(fpath):
            fs.delete(bpath, True)
        else:
            _rename(fs, bpath, fpath)


def replace_dir(spark: SparkSession, staging: str, final: str) -> None:
    """Promote ``staging`` to ``final`` with metadata-only renames: the
    old ``final`` moves aside to a backup, ``staging`` moves in, the
    backup is dropped. A failed promote renames the backup back; after
    a crash between the renames, ``restore_backup`` does. Safe where a
    directory rename is atomic (local, HDFS, ABFS with a namespace)."""
    restore_backup(spark, final)
    fs, fpath, bpath = _with_backup(spark, final)
    had_final = fs.exists(fpath)
    if had_final:
        _rename(fs, fpath, bpath)
    fs.mkdirs(fpath.getParent())
    try:
        _rename(fs, _jpath(spark, staging), fpath)
    except Exception:
        if had_final:
            _rename(fs, bpath, fpath)
        raise
    fs.delete(bpath, True)


def put_object(spark: SparkSession, path: str, data: bytes | str) -> None:
    """Write one small object (parity: s3_write, test.py:44-58)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    fs = hadoop_fs(spark, path)
    out = fs.create(_jpath(spark, path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def commit_object(spark: SparkSession, path: str, data: bytes | str) -> None:
    """Commit one small object that readers depend on (a manifest, a
    schema registry): write a hidden staged sibling, then promote it
    with ``replace_dir``, so a crash leaves the old or the new bytes,
    never a truncated object. Read it back with ``read_committed``."""
    fpath = _jpath(spark, path)
    staged = _handles(spark).Path(fpath.getParent(), f".{fpath.getName()}.staged")
    put_object(spark, staged.toString(), data)
    replace_dir(spark, staged.toString(), path)


def read_committed(spark: SparkSession, path: str) -> bytes | None:
    """The bytes ``commit_object`` last committed at ``path``, or None if
    there are none; first finishes a commit a crash stopped between its
    renames (``restore_backup``)."""
    restore_backup(spark, path)
    return get_object(spark, path) if path_exists(spark, path) else None


def get_object(spark: SparkSession, path: str) -> bytes:
    """Read one small object fully (parity: s3_get_file, test.py:60-92)."""
    h = _handles(spark)
    fs = hadoop_fs(spark, path)
    stream = fs.open(_jpath(spark, path))
    try:
        baos = h.ByteArrayOutputStream()
        h.IOUtils.copyBytes(stream, baos, 65536, False)
        return bytes(baos.toByteArray())
    finally:
        stream.close()


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Non-recursive listing: (path, size, mtime_millis) per file."""
    fs = hadoop_fs(spark, path)
    out = []
    for status in fs.listStatus(_jpath(spark, path)):
        if status.isFile():
            out.append(
                (
                    status.getPath().toString(),
                    status.getLen(),
                    status.getModificationTime(),
                )
            )
    return out
