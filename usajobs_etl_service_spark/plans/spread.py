"""Scale-adaptive parallelism on-ramp for CPU-heavy row-local stages.

The test inputs (and any small extract: one gzip file, one parquet
row group) scan as a SINGLE task, so every pre-exchange expression —
curation gates, signature folds, gram explodes, distance arithmetic —
runs on one core while the rest of the machine idles. At production
scale the same scans carry >= cores splits and need nothing.

``spread_for_compute`` bridges the two regimes adaptively: it
round-robin repartitions to the session's default parallelism ONLY
when the upstream plan's partition count is below it, and returns the
input unchanged (no exchange node at all) otherwise. Derivation is
from the live plan + ``sparkContext.defaultParallelism`` — never a
constant tuned for one host — so the driver's lower-core-count bench
runs see a proportionally smaller fan-out (guide §2: scale-adaptive
partitioning, not local-mode constants).

Correctness posture: keyless ``repartition(n)`` is deterministic under
retry (``spark.sql.execution.sortBeforeRepartition`` stays on) and the
callers are per-row transforms feeding aggregates/joins, so results
are row-order independent.

Where it is wired: QUERY-level composition points only (the corpus
pipeline gate, signature/gram producers' call sites). The core
operators keep their documented zero-shuffle contracts — the on-ramp
is the caller's choice, exactly like the layout on-ramps in
operators/layout.py.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

__all__ = ["spread_for_compute"]

_log = logging.getLogger(__name__)
_warned_fallback = False


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when —
    and only when — its estimated input is too small for the scan to
    fill the machine on its own; a structural no-op (the exact input
    frame back) otherwise.

    The decision reads the optimizer's ``sizeInBytes`` estimate (~10 ms
    driver-side, no Spark job — an ``.rdd.getNumPartitions()`` probe
    would pay full physical planning, measured ~80 ms/call): when the
    estimate is at least ``cores x maxPartitionBytes`` the scan itself
    yields >= cores splits and the frame passes through untouched."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        try:
            max_split = int(raw)
        except ValueError:  # "128m"-style suffixed values
            max_split = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
            )
    except Exception as ex:
        # Perf-only fallback (the frame is correct either way), but a
        # SILENT one would hide a regression of the on-ramp itself — a
        # Spark version bump renaming the private queryExecution API,
        # or an estimate-less plan — so the first occurrence per
        # process logs loudly (ADVICE r12: observability of the
        # fallback path; one-time so per-query call sites don't spam).
        global _warned_fallback
        if not _warned_fallback:
            _warned_fallback = True
            _log.warning(
                "spread_for_compute: size-estimate probe failed (%s: %s); "
                "the parallelism on-ramp is a no-op for this and any "
                "similar plans — small scans will run single-task",
                type(ex).__name__,
                ex,
            )
        return df
    if size >= cores * max_split:
        return df
    return df.repartition(cores)
