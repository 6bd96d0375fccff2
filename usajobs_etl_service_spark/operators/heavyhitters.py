"""Distributed heavy hitters: Misra-Gries candidates + exact verify (q118).

Reference capability: the reference's stats view counts a handful of
known categories (/root/reference/etl/etl.py:563-607). Over an open
domain (corpus tokens, URLs, user ids) at 100 TB you cannot afford a
full groupBy of every distinct item just to find the few frequent ones;
the standard scale answer is a bounded-memory sketch pass that yields a
small candidate superset, then an exact count restricted to it.

Guarantee (what makes the final answer EXACT, not approximate): a
Misra-Gries summary with ``k`` counters over a partition of ``n_p``
items undercounts any item by at most ``n_p/(k+1)``, and an item absent
from the summary has true partition count <= ``n_p/(k+1)`` (Misra &
Gries 1982; mergeable-summaries form per Agarwal et al., PODS'12).
Summed over partitions: an item absent from EVERY partition summary has
global count <= ``N/(k+1)``. Hence for a support threshold
``phi >= 1/(k+1)``, the union of per-partition summary keys is a
superset of every item with count > ``phi*N``. The second pass counts
exactly over that superset and applies the threshold — zero false
negatives by the bound, zero false positives by exact counting. The
DuckDB oracle is therefore a plain GROUP BY/HAVING.

Scale shape: pass 1 is mapInPandas with O(k) state per partition and no
shuffle; the candidate set (<= partitions * k rows) broadcasts into a
semi-join, so pass 2's groupBy shuffles only rows whose key is a
candidate — the N*phi-frequent sliver, not the open domain.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_merge_reduce(counters: dict, value_counts, k: int) -> dict:
    """Merge a value->count mapping into a Misra-Gries summary and
    reduce it back to <= ``k`` counters (subtract the (k+1)-th largest,
    drop non-positives). The mergeable-summaries reduction of the
    operator below."""
    for item, cnt in value_counts.items():
        counters[item] = counters.get(item, 0) + int(cnt)
    if len(counters) > k:
        cut = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - cut for t, c in counters.items() if c > cut}
    return counters


def misra_gries_candidates(items: DataFrame, col: str, *, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned: one ``item`` column.

    Batch-vectorized form: each Arrow batch is reduced with
    ``value_counts`` then merged into the running summary; when the
    summary exceeds ``k`` keys, the (k+1)-th largest count is subtracted
    from every counter and non-positive counters drop (the mergeable-
    summaries reduction — error accrues only by the subtracted amounts,
    which total <= n_p/(k+1)).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            counters = mg_merge_reduce(counters, pdf[col].value_counts(), k)
        yield pd.DataFrame({"item": list(counters.keys())})

    return items.mapInPandas(summarize, schema="item string")


def heavy_hitters_exact(
    items: DataFrame,
    col: str,
    *,
    phi: float,
    k: int | None = None,
) -> DataFrame:
    """Items with exact count > ``phi * N``: ``(item, cnt)``.

    ``k`` defaults to ``ceil(1/phi)`` (>= 1/phi, satisfying the
    no-false-negative bound ``phi >= 1/(k+1)``).
    """
    if not 0 < phi < 1:
        raise ValueError(f"phi must be in (0,1), got {phi}")
    if k is None:
        k = math.ceil(1.0 / phi)
    if k + 1 < 1.0 / phi:
        raise ValueError(f"k={k} too small for phi={phi}: need k+1 >= 1/phi")

    # NULL items are excluded up front: pandas value_counts drops them
    # in the candidate pass and the semi-join can never match them, so
    # counting NULLs in N would only inflate the phi*N threshold while
    # a frequent NULL could never be reported (ADVICE r6). With the
    # filter, N is the non-null stream length and the phi-fraction
    # guarantee is exact over non-null items.
    items = items.filter(F.col(col).isNotNull())
    candidates = misra_gries_candidates(items, col, k=k).distinct()
    total = items.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        items.join(
            F.broadcast(candidates), items[col] == candidates["item"], "left_semi"
        )
        .groupBy(F.col(col).alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > phi * F.col("n_total"))
        .select("item", "cnt")
    )
