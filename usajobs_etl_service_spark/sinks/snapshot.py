"""S9 — the job table's version store (the Spark analog of the
reference's nightly ``pg_dump`` keeping the last 7,
docker-compose.prod.yml:89-96).

This module is the only code that knows the on-disk version format. A
table path holds one plain parquet ``v=<id>`` directory per write; ``id`` is a
13-digit integer, so string order is numeric order. A version is
visible only after it commits, i.e. once Spark's job commit has written
its ``_SUCCESS`` marker at the version root (the commit rule of Delta
Lake, Armbrust et al., PVLDB 13(12), 2020): a crashed or half-written
directory is never read and never becomes a later run's base.

All listings go through the Hadoop FileSystem API, so the table can
live on any Spark-writable filesystem (file:, hdfs:, s3a:, ...).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from usajobs_etl_service_spark.fs import delete_dir, exists, list_dir

PREFIX = "v="
KEEP_LAST = 7  # committed versions kept, as the reference keeps 7 dumps


def _path(base_path: str, version: str) -> str:
    return f"{base_path.rstrip('/')}/{version}"


def _committed(spark: SparkSession, base_path: str, version: str) -> bool:
    return exists(f"{_path(base_path, version)}/_SUCCESS", spark)


def list_versions(spark: SparkSession, base_path: str) -> list[str]:
    """Every version directory, committed or not, oldest first."""
    return sorted(d for d in list_dir(base_path, spark) if d.startswith(PREFIX))


def latest_committed(spark: SparkSession, base_path: str) -> str | None:
    """Path of the newest committed version; None if there is none."""
    for version in reversed(list_versions(spark, base_path)):
        if _committed(spark, base_path, version):
            return _path(base_path, version)
    return None


def read_latest(spark: SparkSession, base_path: str, schema: StructType) -> DataFrame:
    """The newest committed version, read with ``schema`` (so no inference
    job) and without the ``ingest_date`` that partitioned older versions."""
    path = latest_committed(spark, base_path)
    if path is None:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path).drop("ingest_date")


def write_version(spark: SparkSession, base_path: str, df: DataFrame) -> str:
    """Save ``df`` as a new version, then keep the newest
    ``KEEP_LAST`` committed versions. Returns the new version's name.

    The id is ``max(now_ms, newest_id + 1)``, so a clock step backwards
    never names a version older than one already on disk.
    """
    versions = list_versions(spark, base_path)
    newest = int(versions[-1][len(PREFIX) :]) if versions else 0
    version = f"{PREFIX}{max(int(time.time() * 1000), newest + 1)}"
    df.write.mode("overwrite").parquet(_path(base_path, version))
    _prune(spark, base_path)
    return version


def _prune(spark: SparkSession, base_path: str) -> None:
    """Drop committed versions beyond the newest ``KEEP_LAST``, and
    uncommitted directories older than the newest committed one (crashed
    writes). Newer uncommitted ones may be a write in flight and stay."""
    versions = list_versions(spark, base_path)
    committed = [v for v in versions if _committed(spark, base_path, v)]
    if not committed:
        return
    kept = set(committed[-KEEP_LAST:])
    for version in versions:
        if version < committed[-1] and version not in kept:
            delete_dir(_path(base_path, version), spark)
