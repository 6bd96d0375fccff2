"""Filesystem helpers routed through the Hadoop FileSystem API.

Driver-side table/snapshot maintenance (version listing, retention
pruning) must work wherever Spark can write — ``file:``, ``hdfs:``,
``s3a:``, ``abfs:`` — so it cannot use ``os.listdir``/``shutil``,
which only see the driver's local disk. Every helper here resolves the
path's own filesystem from the active Hadoop configuration, exactly as
the executors' writers do.

All calls are O(directory entries) driver-side metadata operations on
table roots (a handful of version/snapshot dirs), never data reads;
``write_file_atomic`` writes one small driver-built file (the run log).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _active_spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession for filesystem access")
    return s


def list_dir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Names (last path component) of the immediate children of ``path``;
    empty list if the directory does not exist."""
    spark = _active_spark(spark)
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def delete_dir(path: str, spark: SparkSession | None = None) -> bool:
    """Recursively delete ``path``; False if it did not exist."""
    spark = _active_spark(spark)
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.delete(hpath, True))


def exists(path: str, spark: SparkSession | None = None) -> bool:
    spark = _active_spark(spark)
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))


def write_file_atomic(path: str, data: bytes, spark: SparkSession | None = None) -> None:
    """Write ``data`` as the file ``path``: first to a ``_``-prefixed
    sibling, which Spark's file readers skip, then renamed into place, so
    a crash never leaves a torn file that readers would pick up."""
    spark = _active_spark(spark)
    fs, hpath = _fs_and_path(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(hpath.getParent(), f"_{hpath.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(data)
    finally:
        out.close()
    if not fs.rename(tmp, hpath):
        fs.delete(tmp, False)
        raise OSError(f"could not rename {tmp.toString()} to {path}")
