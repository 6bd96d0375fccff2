"""Deduplication operators: the reference's in-batch first-wins dedup
(A6/J2, reference ``etl/etl.py:452-465``) and the corpus-dedup
extensions (SURVEY.md §2.11): sub-document units and keep-the-best.

Scale notes: first-wins is a single hash-partition shuffle on the key.
It needs a deterministic order column — ``dropDuplicates`` alone
keeps an arbitrary row per key, which flakes hash-match tests AND makes
reruns non-reproducible on a cluster. The reader supplies ``ingest_seq``
(page*page_size + index) precisely so this window is deterministic. If a
key is pathologically hot, AQE skew handling applies only to joins — for
a skewed dedup key, pre-aggregate with a salted two-phase min().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import tokens_ws


def dedup_first_wins(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """A6: keep the first row per key by ``order_col`` (deterministic).

    One shuffle on ``key_cols``; the window never materializes more than
    a partition at a time. Output drops the helper rank column.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def unit_dedup_reassemble(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_pattern: str | None = None,
    unit_tokens: int = 16,
) -> DataFrame:
    """Sub-document exact dedup with reassembly — the C4/Dolma
    paragraph-dedup stage: split every document into units, keep each
    distinct unit ONCE corpus-wide (first occurrence by (doc id, unit
    position) wins), and rebuild every document from its surviving
    units in original order. Boilerplate shared across pages (headers,
    license blocks, navigation) disappears from every copy but the
    first, while the documents themselves survive — the middle ground
    between doc-level dedup (q06: drops nothing inside kept docs) and
    duplicated-span removal (q90: arbitrary overlaps, quadratic-ish
    candidate work).

    Units: ``split_pattern`` (a regex — '\\n\\n+' for real paragraph
    corpora) when given, else fixed non-overlapping ``unit_tokens``
    windows (the chunking.py stride with zero overlap — for corpora
    without structural delimiters). Unit identity is md5 of the
    lowercased unit; empty units are dropped before dedup (they would
    all collide into one fingerprint).

    Returns ``(id_col, n_units, n_kept, text_dedup)``; documents whose
    units ALL lose drop from the output entirely (their content lives
    verbatim in earlier documents). Scale shape: one posexplode, ONE
    fingerprint-keyed shuffle for the global first-wins window, one
    id-keyed reassembly aggregate — corpus-linear, no joins back to
    the raw text. First-wins determinism needs an orderable id (the
    dedup_first_wins ingest_seq argument).
    """
    if split_pattern is None and unit_tokens < 1:
        raise ValueError(f"unit_tokens must be >= 1, got {unit_tokens}")
    did = F.col(id_col)
    if split_pattern is not None:
        units = F.split(F.col(text_col), split_pattern)
    else:
        toks = tokens_ws(F.col(text_col))
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(unit_tokens)
        )
        units = F.transform(
            starts, lambda s: F.array_join(F.slice(toks, s, unit_tokens), " ")
        )
    exploded = (
        df.select(did.alias("__id"), F.posexplode(units).alias("pos", "unit"))
        .filter(F.trim(F.col("unit")) != "")
        .select("__id", "pos", "unit", F.md5(F.lower(F.col("unit"))).alias("fp"))
    )
    w = Window.partitionBy("fp").orderBy("__id", "pos")
    survivors = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n_units", F.count(F.lit(1)).over(Window.partitionBy("__id")))
        .filter(F.col("__rn") == 1)
    )
    return (
        survivors.groupBy("__id")
        .agg(
            F.max("__n_units").alias("n_units"),
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .select(F.col("__id").alias(id_col), "n_units", "n_kept", "text_dedup")
    )


def dedup_keep_best(
    df: DataFrame,
    key_cols: list[str],
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Quality-aware canonical selection: one surviving row per
    duplicate cluster, chosen by HIGHEST ``quality_col`` (tie: lowest
    ``id_col``) — the RefinedWeb/CCNet retention policy ("keep the
    best copy"), vs :func:`dedup_first_wins`' arrival order and the
    dup-cluster resolver's min-id convention.

    Mega-cluster-safe by construction: no per-key window/sort (a
    fingerprint with millions of copies would pin one task).  Instead
    three key-hash stages whose per-key state is O(1):
    best-quality aggregate -> equality join back + min-id aggregate
    over the maximal rows -> id semi-join lifts the full surviving
    rows.  Adds ``n_copies`` (cluster size) to each survivor.  NULL
    quality sorts below any value (max skips NULLs; an all-NULL
    cluster falls back to min id).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    # every working column is __dkb_-prefixed and collision-checked:
    # an input that already carries one (incl. the n_copies output)
    # must error loudly, not produce ambiguous attributes post-join
    work = {"__dkb_best_q", "__dkb_n_copies", "__dkb_win_id", "n_copies"}
    work.update(f"__dkb_bk_{i}" for i in range(len(key_cols)))
    clash = work.intersection(df.columns)
    if clash:
        raise ValueError(
            f"dedup_keep_best: input columns collide with working/output "
            f"names {sorted(clash)}; rename them first"
        )
    # cluster-side key columns carry renamed aliases so the join-back
    # never produces ambiguous attributes
    bk = [f"__dkb_bk_{i}" for i in range(len(key_cols))]
    best = df.groupBy(*[F.col(k).alias(a) for k, a in zip(key_cols, bk)]).agg(
        F.max(quality_col).alias("__dkb_best_q"),
        F.count(F.lit(1)).alias("__dkb_n_copies"),
    )
    cond = [
        F.col(k).eqNullSafe(F.col(a)) for k, a in zip(key_cols, bk)
    ]
    maximal = df.join(best, cond).filter(
        F.col(quality_col).eqNullSafe(F.col("__dkb_best_q"))
    )
    winner_ids = maximal.groupBy(*bk).agg(
        F.min(id_col).alias("__dkb_win_id"),
        F.max("__dkb_n_copies").alias("n_copies"),
    )
    # winner_ids is one row per cluster but open-cardinality — a plain
    # hash join, never a broadcast hint (the q62 open-vocabulary rule)
    return df.join(
        winner_ids.select(F.col("__dkb_win_id"), F.col("n_copies")),
        df[id_col] == F.col("__dkb_win_id"),
    ).drop("__dkb_win_id")
