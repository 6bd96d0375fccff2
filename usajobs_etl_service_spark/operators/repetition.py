"""Repetition-based quality signals (Gopher/MassiveText-style rules):
documents dominated by a few repeated tokens or duplicated n-grams are
boilerplate/spam and get filtered before pretraining.

All signals are pure array expressions over the tokenized text — they
run inside the scan stage with ZERO shuffle (the per-doc token mode is
a fold over the sorted token array, not an explode+groupBy), so at
100 TB this filter costs exactly one pass over the corpus, fused with
whatever else the scan computes.

Signals (public rule set, Rae et al. "Scaling Language Models: ...
Gopher" appendix A):
- ``dup_token_frac``  — 1 - distinct_tokens / tokens
- ``top_token_frac``  — occurrences of the most frequent token / tokens
- ``dup_2gram_frac``  — 1 - distinct_2grams / 2grams (0 when < 2 tokens)

PERFORMANCE LANDMINE: never use the signals (or ``keep``) directly as a
filter predicate — Catalyst collapses the projection into the Filter,
and a Filter containing these fold/gram HOFs leaves whole-stage codegen
and re-evaluates shared subtrees per reference (measured ~40x slower
than projection form; pushed into scan DataFilters it is worse still).
To gate rows, compute the signals as columns behind an optimizer
barrier (a tiny ``groupBy(id)``) or semi/anti-join on the id — see
q69's repetition gate for the pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import lang_id, quality_score, shingles_from_tokens, tokens_ws
from usajobs_etl_service_spark.plans.barrier import barrier_filter
from usajobs_etl_service_spark.plans.spread import spread_for_compute


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e.
    the count of the modal element — as a single fold (no explode)."""
    state0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    return F.aggregate(
        sorted_arr,
        state0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"], F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def _top_token_frac(t: Column, round_digits: int = 4) -> Column:
    return F.round(_max_run_length(F.array_sort(t)) / F.size(t).cast("double"), round_digits)


def _dup_2gram_frac(t: Column, round_digits: int = 4) -> Column:
    grams = shingles_from_tokens(t, 2)
    n2 = F.size(grams)
    return F.round(
        F.when(n2 > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / n2.cast("double")).otherwise(
            F.lit(0.0)
        ),
        round_digits,
    )


def repetition_keep_tokens(
    t: Column,
    *,
    max_top_token_frac: float = 0.3,
    max_dup_2gram_frac: float = 0.5,
) -> Column:
    """The keep verdict over a PRE-STAGED token-array column — for
    inlining into a larger lazy plan (e.g. the corpus pipeline) without
    a join against ``repetition_signals``. ``t`` MUST be a real column
    (``withColumn``), not an inlined tokenizer expression: sub-exprs
    referenced by the fold/sort re-evaluate their input per use, and
    inlining the tokenizer re-ran regex+split per signal — a measured
    ~8x slowdown on the corpus pipeline (same HOF lesson as the shingle
    operators). False for empty docs; compares ROUNDED fractions so the
    verdict is reproducible cross-engine."""
    return (
        (F.size(t) > 0)
        & (_top_token_frac(t) <= F.lit(max_top_token_frac))
        & (_dup_2gram_frac(t) <= F.lit(max_dup_2gram_frac))
    )


def repetition_signals(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_token_frac: float = 0.3,
    max_dup_2gram_frac: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """Per-doc repetition signals plus a ``keep`` verdict. Empty docs
    (no tokens) are excluded, mirroring the chunker's contract."""
    toks = tokens_ws(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") > 0)
    t = F.col("__t")
    n = F.size(t).cast("double")
    dup_tok = F.round(F.lit(1.0) - F.size(F.array_distinct(t)) / n, round_digits)
    out = base.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        _top_token_frac(t, round_digits).alias("top_token_frac"),
        _dup_2gram_frac(t, round_digits).alias("dup_2gram_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("top_token_frac") <= max_top_token_frac)
        & (F.col("dup_2gram_frac") <= max_dup_2gram_frac),
    )


def curation_gate(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_quality: float = 0.5,
) -> DataFrame:
    """Quality + language-id + repetition gate as ONE stateless
    composition (q69's corpus pipeline): every expression is row-local.
    The repetition verdict runs behind ``barrier_filter``
    (plans/barrier.py), computed once per row in projection position.
    Adds ``lang_pred`` and ``quality`` columns; drops rows failing any
    gate."""
    # Scale-adaptive on-ramp: the gate is pure per-row CPU (regex
    # features, token folds), so a small single-split input would pin
    # the whole stage on one core; at scale the scan is already wide
    # and this is a no-op.
    docs = spread_for_compute(docs)
    gated = (
        docs.withColumn("lang_pred", lang_id(F.col(text_col)))
        .withColumn("quality", quality_score(F.col(text_col)))
        .filter((F.col("quality") >= min_quality) & (F.col("lang_pred") != "und"))
        .withColumn("__rt", tokens_ws(F.lower(F.col(text_col))))
    )
    return barrier_filter(gated, repetition_keep_tokens(F.col("__rt"))).drop("__rt")
