"""Incremental aggregate maintenance (extension operator, q134).

Reference capability: the reference recomputes its stats views from the
whole table on every run (/root/reference/etl/etl.py:563-607). At
100 TB you never re-scan history to refresh a rollup — you merge the
new partition's PARTIAL aggregate into the maintained table. For
distributive/algebraic aggregates (count, sum, min, max, and avg as
sum/count) partials merge exactly: that is the same partial+final
contract Spark's own HashAggregate uses, lifted to table granularity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # partial counts MERGE by summing
    "min": F.min,
    "max": F.max,
}


def partial_aggregate(
    rows: DataFrame, keys: Sequence[str], spec: dict[str, str]
) -> DataFrame:
    """One partition/batch's partial: ``spec`` maps output column ->
    ``"agg:source_col"`` with agg in {count,sum,min,max} (count ignores
    the source col)."""
    aggs = []
    for out, rule in spec.items():
        agg, _, col = rule.partition(":")
        if agg == "count":
            aggs.append(F.count(F.lit(1)).alias(out))
        elif agg in ("sum", "min", "max"):
            aggs.append(getattr(F, agg)(col).alias(out))
        else:
            raise ValueError(f"unsupported aggregate {agg!r} (distributive only)")
    return rows.groupBy(*keys).agg(*aggs)


def merge_aggregates(
    partials: Sequence[DataFrame], keys: Sequence[str], spec: dict[str, str]
) -> DataFrame:
    """Merge partial-aggregate tables (same schema) into the combined
    aggregate — exactly equal to aggregating all underlying rows at
    once, for the distributive aggregates ``spec`` allows."""
    if not partials:
        raise ValueError("need at least one partial table")
    unioned = partials[0]
    for p in partials[1:]:
        unioned = unioned.unionByName(p)
    merges = []
    for out, rule in spec.items():
        agg = rule.partition(":")[0]
        if agg not in _MERGE:
            raise ValueError(f"unsupported aggregate {agg!r} (distributive only)")
        merges.append(_MERGE[agg](out).alias(out))
    return unioned.groupBy(*keys).agg(*merges)
