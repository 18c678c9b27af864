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

from pyspark.sql import SparkSession


def _jvm(spark: SparkSession):
    return spark.sparkContext._jvm


def _jpath(spark: SparkSession, path: str):
    return _jvm(spark).org.apache.hadoop.fs.Path(path)


def hadoop_fs(spark: SparkSession, path: str):
    """FileSystem instance for the scheme of ``path``."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return _jpath(spark, path).getFileSystem(conf)


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


def replace_dir(spark: SparkSession, staging: str, final: str) -> None:
    """Atomically-ish promote ``staging`` to ``final``: delete final,
    rename staging. Metadata-only; no data rewrite."""
    fs = hadoop_fs(spark, final)
    fpath, spath = _jpath(spark, final), _jpath(spark, staging)
    if fs.exists(fpath):
        fs.delete(fpath, True)
    parent = fpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(spath, fpath):
        raise IOError(f"rename {staging} -> {final} failed")


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


def get_object(spark: SparkSession, path: str) -> bytes:
    """Read one small object fully (parity: s3_get_file, test.py:60-92)."""
    jvm = _jvm(spark)
    fs = hadoop_fs(spark, path)
    stream = fs.open(_jpath(spark, path))
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
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
