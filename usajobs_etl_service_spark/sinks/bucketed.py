"""Bucketed-table layout: pre-shuffle once at write time, join/aggregate
shuffle-free forever after.

The storage-side complement to ``operators/layout.py`` (Z-order serves
*scan* locality — skip files a predicate can't touch; bucketing serves
*join/agg* locality — rows that will meet in a join or groupBy are
already co-located).  At 100 TB the dominant cost of a repeated
fact⋈dim or fact⋈fact join is the fact-side shuffle: every query pays
an ``Exchange hashpartitioning(key)`` over the full table.  Writing the
table ONCE with ``bucketBy(n, key)`` moves that exchange to write time;
every subsequent equi-join or aggregation on the bucket key reads the
files already hash-partitioned, and Catalyst plans a SortMergeJoin /
HashAggregate with ZERO Exchange on the bucketed side (asserted in
tests/test_bucketed.py).

Semantics notes (all load-bearing at scale):

- Spark's bucket hash is ``Murmur3Hash(col) pmod n`` — the same
  function the shuffle would use, which is WHY the layouts line up.
- Both sides of a join must be bucketed on the join key; unequal
  bucket counts are fine when one count divides the other and
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` is set (the
  larger side's buckets are read-coalesced, still no shuffle).
- ``sortBy`` within buckets lets the SMJ skip its per-task sort when
  each bucket holds exactly one file — we repartition by the bucket
  expression before writing so each task writes one file per bucket it
  owns (without that, every input task writes a sliver of EVERY
  bucket: n_tasks × n_buckets small files, the classic bucketing
  file-explosion failure).
- The bucket spec lives in the session catalog (in-memory here; a Hive
  metastore / Iceberg catalog on a real cluster makes it durable).
  Files are plain parquet at ``path`` — readable without the catalog,
  just without the no-shuffle guarantee.

Reference anchor: the reference keeps its hot join key indexed
(init.sql:30-43 btree on jobs.job_id) so repeated upserts never scan;
bucketing is the distributed analogue — pay the layout once, every
later join is local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "bucketize_write",
    "bucketized_table",
    "assert_no_exchange_on",
]


def bucketize_write(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed parquet table registered as ``table``.

    One file per bucket (``repartition`` on the bucket column first) so
    downstream SortMergeJoins can also elide the per-task Sort, and so
    the file count stays ``n_buckets`` regardless of input parallelism.
    ``mode=overwrite`` keeps the call idempotent (re-layout = re-run).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if bucket_col not in df.columns:
        raise ValueError(f"bucket column {bucket_col!r} not in {df.columns}")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def bucketized_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back through the catalog (the bucket spec
    only attaches via ``spark.table``; a bare ``read.parquet(path)`` of
    the same files loses the no-shuffle property)."""
    return spark.table(table)


def assert_no_exchange_on(df: DataFrame) -> None:
    """Fail loudly if the physical plan still contains a shuffle —
    the guard a layout-dependent pipeline wants before betting a 100 TB
    join on the bucket spec actually lining up."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "expected a shuffle-free plan over bucketed inputs; plan:\n" + plan
        )
