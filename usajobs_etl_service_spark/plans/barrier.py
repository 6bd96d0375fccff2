"""Optimizer barrier for expensive filter predicates.

Heavy higher-order-function expressions (array folds, gram pipelines)
must never sit in a Filter condition. Mechanism (see SCALE.md for the
minimal repro): ``PushDownPredicates`` rewrites ``Filter(attr)`` over
``Project(..., attr = expr)`` by substituting ``expr`` into the filter
— but only when every project field is deterministic — and
``CollapseProject`` merges the defining projection the same way. Once
the HOF lands in the Filter, two costs stack: HOFs are
``CodegenFallback`` so the Filter leaves whole-stage codegen, and on
the interpreted path shared subtrees (the tokenizer feeding every
signal) re-evaluate once per reference — measured ~10x slower at sf0.1
(~40x when pushdown also carries the condition into the parquet scan's
``DataFilters``).

``barrier_filter`` computes the condition ONCE as a projected column
and blocks the substitution by AND-ing in an always-true
NONDETERMINISTIC conjunct: ``(rand(seed) + 2.0) > 1.0``. Both rules
bail on nondeterministic project fields, so the plan keeps
``Filter(gate_attr)`` above the defining Project: no shuffle, no
exchange, nothing added beyond one XORShift + double compare per row.
The arithmetic detour matters: a bare ``rand() < 2.0`` does NOT work —
Spark 4 constant-folds rand-vs-out-of-range-literal comparisons to
``true`` before pushdown runs, restoring the deterministic projection.
The gate's value is always true regardless of evaluation, so
task-retry nondeterminism (SPARK-38388 class) cannot change results.

Trade-off: downstream filters cannot be pushed through a
nondeterministic projection either, so apply cheap row-wise filters
BEFORE the barrier (they commute with it).

The previous implementation gated through ``first()`` over a per-key
window, which bought the same single evaluation at the cost of a hash
shuffle of the whole input — measured strictly slower than this form
at sf0.01 and sf0.1, and a full-corpus exchange at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_GATE = "__barrier_gate"


def barrier_filter(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` with ``cond`` guaranteed to evaluate exactly
    once per row in projection position (codegen'd subexpressions +
    single evaluation of each HOF subtree), never substituted into the
    Filter condition or the scan's pushed filters. Adds no shuffle."""
    gate = cond & ((F.rand(7) + F.lit(2.0)) > 1.0)
    return df.withColumn(_GATE, gate).filter(F.col(_GATE)).drop(_GATE)
