"""Parquet-superstep round-trip helper for the iterative graph family
(connected components, k-core, k-hop BFS, label propagation, SSSP),
and the driver transfer its small-graph finishes share.

Two per-round costs the loops all shared, removed here (optimization
round 12, guide §1.2 — don't run a second job for what the first
already knows):

- the convergence signal (count / count+sum / count+hash fingerprint)
  was a SECOND job re-reading the just-written tiny parquet; it is now
  OBSERVED during the materializing write itself (``Dataset.observe``
  / ``CollectMetrics`` — computed on exactly the written rows, zero
  extra passes);
- the read-back re-inferred the parquet schema through the JVM footer
  reader (~0.1 s of driver time per round); the schema is the written
  frame's own, so it is passed explicitly.

The parquet materialization itself stays exactly as clustering.py:134
argues: one-round-deep lineage, executor-loss-safe where
localCheckpoint is not (measured a wall-clock tie with localCheckpoint
on the q199 BFS shape, so the safer form wins).

Below their ``small_graph_edges`` gate, connected components, k-core
and k-hop BFS finish on the driver instead. All three move their
edges to numpy and their result back to Spark through
:func:`to_numpy` / :func:`from_numpy`: one Arrow transfer each way,
no Python ``Row`` per edge, and a result frame whose execution
starts no Python worker (a ``createDataFrame`` of a Python list
pickles its rows through one). On q199's 115,729-edge graph that
worker alone cost 2.3 CPU-s (4 vCPU).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType


def write_read(
    df: DataFrame, path: str, metrics: Sequence[Column] | None = None
) -> tuple[DataFrame, dict | None]:
    """Materialize ``df`` to ``path`` and return the parquet-backed
    frame plus the observed ``metrics`` row (a dict, or None when no
    metrics were requested). The metrics are aggregate expressions
    over the written rows, collected by the write job itself.

    INVARIANT (fixpoint correctness — ADVICE r12): the CollectMetrics
    node is placed IMMEDIATELY on top of the written plan, i.e. in the
    write's own result stage, where Spark's exactly-once accumulator
    semantics for the final stage hold. Callers must NOT add
    transformations between this observe and the write (there is no
    seam here to do so — keep it that way): an observe evaluated below
    a shuffle boundary can double/under-count under task retry, and a
    skewed convergence signal silently stops a superstep loop at the
    wrong fixpoint — the failure mode clustering.py's fingerprint
    comment warns about."""
    spark = df.sparkSession
    obs = None
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    df.write.mode("overwrite").parquet(path)
    back = spark.read.schema(df.schema).parquet(path)
    return back, (obs.get if obs is not None else None)


def to_numpy(df: DataFrame) -> list[np.ndarray]:
    """The columns of a small, null-free frame as numpy arrays, moved
    to the driver in one Arrow transfer."""
    return [c.to_numpy() for c in df.toArrow().columns]


def from_numpy(spark: SparkSession, schema: StructType, columns: Sequence[np.ndarray]) -> DataFrame:
    """A frame of driver-side numpy ``columns``, sent to the JVM as one
    Arrow table that ``createDataFrame`` casts to ``schema`` (a
    narrowing cast that would lose a value raises)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(dict(zip(schema.names, columns))), schema)
