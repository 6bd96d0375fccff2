"""S6 / J1 / A8 — the upsert (merge) sink (SURVEY.md §2.1 S6, §2.3 J1,
§2.4 A8; reference ``etl/etl.py:445-525``, trigger ``init.sql:28-41``).

Semantics preserved from the reference:
- **first-wins within a batch** (in-batch dedup by key, etl.py:452-465),
- **last-writer-wins against the table** (ON CONFLICT DO UPDATE),
- ``created_at`` preserved on update, ``updated_at`` refreshed
  (DO UPDATE list excludes created_at; trigger refreshes updated_at),
- per-run metrics ``{"inserted", "updated", "total"}`` — the reference
  derives them from the PG ``(xmax = 0)`` trick; here they are the
  semi/anti-join split of the batch against the table, either as a
  query of their own (``merge_metrics``) or observed on the merge's
  own write (``merge_upsert(observation=...)``).

Scale shape: the batch is normally orders of magnitude smaller than the
table, so the batch side is broadcast — the merge is then a scan of the
base table with a broadcast hash anti-join (no shuffle of the base). On
storage that supports it, the same semantics map 1:1 to ``MERGE INTO``
(Delta/Iceberg); this module is the engine-native implementation over
the plain parquet versions of ``sinks/snapshot``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.dedup import dedup_first_wins


def prepare_batch(batch: DataFrame, key_cols: list[str], order_col: str | None = None) -> DataFrame:
    """In-batch first-wins dedup (A6) — mirrors reference etl.py:452-465."""
    if order_col is not None:
        return dedup_first_wins(batch, key_cols, order_col)
    return batch.dropDuplicates(key_cols)


def merge_upsert(
    base: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    *,
    order_col: str | None = None,
    preserve_cols: list[str] | None = None,
    touch_cols: list[str] | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Return the post-merge table: base rows whose key is not in the
    batch, plus the batch (last-writer-wins per key).

    ``preserve_cols``: columns whose base value survives an update
    (reference: ``created_at``). ``touch_cols``: columns refreshed to
    ``current_timestamp()`` on every written row (reference:
    ``updated_at`` via trigger). ``observation``: receives
    ``inserted``/``updated``/``total`` (``upsert_stats``' values) from
    the action that materializes the result — the reference's
    ``RETURNING (xmax = 0)`` readback, with no job of its own.
    """
    b = prepare_batch(batch, key_cols, order_col)
    if order_col is not None and order_col in b.columns:
        b = b.drop(order_col)
    preserve_cols = preserve_cols or []
    touch_cols = touch_cols or []

    keys_b = b.select(*key_cols)
    if preserve_cols or observation is not None:
        # prune base to the batch's keys FIRST (broadcast semi-join on the
        # small batch-key set), so what we later broadcast back is at most
        # |batch| rows — never a projection of the 100 TB base table
        keep = base.select(
            *key_cols, *[F.col(c).alias(f"__base_{c}") for c in preserve_cols], F.lit(True).alias("__matched")
        ).join(F.broadcast(keys_b), key_cols, "left_semi")
        b = b.join(F.broadcast(keep), key_cols, "left")
        if observation is not None:
            matched = F.col("__matched").isNotNull()
            b = b.observe(
                observation,
                F.count(F.when(~matched, 1)).alias("inserted"),
                F.count(F.when(matched, 1)).alias("updated"),
                F.count(F.lit(1)).alias("total"),
            )
        for c in preserve_cols:
            b = b.withColumn(c, F.coalesce(F.col(f"__base_{c}"), F.col(c))).drop(f"__base_{c}")
    for c in touch_cols:
        b = b.withColumn(c, F.current_timestamp())

    # anti-join on the batch's key frame, not on ``b``: the observed node
    # must appear in the plan once
    untouched = base.join(F.broadcast(keys_b), key_cols, "left_anti")
    return untouched.unionByName(b.select(*base.columns))


def merge_metrics(
    base: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    *,
    order_col: str | None = None,
) -> DataFrame:
    """A8: one-row DataFrame (inserted, updated, total) — the semi/anti
    split that replaces the reference's ``(xmax = 0) AS inserted`` flag
    readback (etl.py:487, 514-515). One pass over the (small) batch with
    a broadcast-able probe of base keys.
    """
    b = prepare_batch(batch, key_cols, order_col)
    keys_b = b.select(*key_cols)
    # prune base keys to the batch's keys (broadcast semi on the small
    # side) before the probe join — never materialize/shuffle the full
    # base key set
    matched_keys = (
        base.select(*key_cols)
        .join(F.broadcast(keys_b), key_cols, "left_semi")
        .dropDuplicates(key_cols)
        .withColumn("__matched", F.lit(1))
    )
    flags = keys_b.join(F.broadcast(matched_keys), key_cols, "left")
    return flags.agg(
        F.count(F.when(F.col("__matched").isNull(), 1)).alias("inserted"),
        F.count(F.when(F.col("__matched").isNotNull(), 1)).alias("updated"),
        F.count(F.lit(1)).alias("total"),
    )


def upsert_stats(base: DataFrame, batch: DataFrame, key_cols: list[str], order_col: str | None = None) -> dict:
    """Reference-shaped return value: ``{"inserted": n, "updated": m,
    "total": n+m}`` (etl.py:519-524)."""
    row = merge_metrics(base, batch, key_cols, order_col=order_col).first()
    return {"inserted": row["inserted"], "updated": row["updated"], "total": row["total"]}
