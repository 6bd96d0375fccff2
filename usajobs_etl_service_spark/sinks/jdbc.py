"""S6 (PostgreSQL path) — distributed batched upsert writer.

Spark's built-in JDBC writer has no MERGE/ON CONFLICT mode, so the
upsert runs via ``foreachPartition``: each executor opens one connection,
issues one multi-VALUES ``INSERT ... ON CONFLICT (key) DO UPDATE`` per
batch (single round-trip per batch — the reference's ``execute_values``
shape, etl.py:445-525), and commits per partition.

Scale posture:
- per-executor connections: bounded by partition count — the batch is
  hash-``repartition``-ed by key into ``max_connections`` partitions
  before writing, so a 1000-executor job can't open 1000 sessions
  against one PG and a given key only ever writes on one connection.
- batches of ``batch_size`` rows bound memory and round-trips.
- the update list excludes ``created_at`` and refreshes ``updated_at``
  (trigger parity, init.sql:28-41).
- insert/update counts come from the RETURNING (xmax = 0) flags,
  summed via an accumulator-free driver-side collect of per-partition
  counts (tiny).

This module generates exact SQL and partition logic; the DB driver
(psycopg2) is optional — importing it happens inside the executor
function, and tests cover the SQL/batching logic with a fake cursor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def build_upsert_sql(table: str, columns: list[str], key: str, n_rows: int) -> str:
    """One multi-row INSERT ... ON CONFLICT DO UPDATE statement with
    ``n_rows`` parameter tuples (reference SQL shape, etl.py:467-488)."""
    cols = ", ".join(columns)
    one_tuple = "(" + ", ".join(["%s"] * len(columns)) + ")"
    values = ", ".join([one_tuple] * n_rows)
    update_cols = [c for c in columns if c not in (key, "created_at")]
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    if "updated_at" not in columns:
        sets += ", updated_at = CURRENT_TIMESTAMP"
    return (
        f"INSERT INTO {table} ({cols}) VALUES {values} "
        f"ON CONFLICT ({key}) DO UPDATE SET {sets} "
        f"RETURNING (xmax = 0) AS inserted"
    )


def upsert_partition(
    rows_iter,
    *,
    table: str,
    columns: list[str],
    key: str,
    batch_size: int,
    connect: Callable,
) -> tuple[int, int]:
    """Executor-side: stream the partition in batches through one
    connection. Returns (inserted, updated). ``connect`` yields a
    DB-API connection (injectable for tests)."""
    inserted = updated = 0
    conn = connect()
    try:
        cur = conn.cursor()
        batch: list[tuple] = []

        def flush():
            nonlocal inserted, updated, batch
            if not batch:
                return
            sql = build_upsert_sql(table, columns, key, len(batch))
            params = [v for row in batch for v in row]
            cur.execute(sql, params)
            flags = cur.fetchall()
            ins = sum(1 for (f,) in flags if f)
            inserted += ins
            updated += len(flags) - ins
            batch = []

        for row in rows_iter:
            batch.append(tuple(row[c] for c in columns))
            if len(batch) >= batch_size:
                flush()
        flush()
        conn.commit()
    finally:
        conn.close()
    return inserted, updated


def jdbc_upsert(
    df: DataFrame,
    *,
    table: str,
    key: str = "position_uri",
    batch_size: int = 1000,
    max_connections: int = 8,
    connect: Callable | None = None,
    dsn: str | None = None,
) -> dict:
    """Distributed upsert of ``df`` into PostgreSQL ``table``. Returns
    ``{"inserted", "updated", "total"}`` (reference metrics shape).

    ``df`` is a key-unique batch, as ``merge_upsert`` takes: the caller
    runs the first-wins dedup (``dedup_first_wins``, reference
    etl.py:452-465). ``dropDuplicates([key])`` still guards the write: a
    key appearing twice in one multi-VALUES statement makes PG abort with
    "ON CONFLICT DO UPDATE command cannot affect row a second time", and
    duplicates split across partitions would race on separate
    connections. ``repartition(key)`` additionally pins every occurrence
    of a key to one connection, so concurrent partition writes never
    contend on the same row."""
    df = df.dropDuplicates([key])
    columns = df.columns

    if connect is None:

        def connect():  # pragma: no cover — needs a live PG
            import psycopg2

            return psycopg2.connect(dsn)

    conn_factory = connect

    def run_partition(rows):
        yield upsert_partition(
            rows, table=table, columns=columns, key=key, batch_size=batch_size, connect=conn_factory
        )

    counts = df.repartition(max_connections, key).rdd.mapPartitions(run_partition).collect()
    inserted = sum(c[0] for c in counts)
    updated = sum(c[1] for c in counts)
    return {"inserted": inserted, "updated": updated, "total": inserted + updated}
