"""Z-order (Morton-curve) data layout for multi-column file skipping.

The 100 TB problem this solves: parquet row-group pruning works off
per-file min/max ranges, and a table sorted by ONE column has useless
ranges for every OTHER predicate column. Interleaving the bits of
several normalized sort keys (the Morton / Z-curve — Morton 1966, the
same layout OPTIMIZE ZORDER BY applies in lakehouse engines) makes
files cluster in ALL participating dimensions at once: a range
predicate on any z-dimension then touches a small fraction of files
instead of all of them.

Spark-first shape:
- Per-column normalization is integer-exact: one tiny aggregate
  produces each column's (min, max), broadcast as a 1-row cross join,
  and each value maps to ``(v - min) * (2^bits - 1) DIV (max - min)``
  — all bigint arithmetic, so the SAME z-values fall out of any
  engine (the DuckDB oracle replays them bit-for-bit; no float
  rounding anywhere).
- Bit interleave is ONE generated expression (sum of shift/mask
  terms), codegen'd in the scan stage — no UDF, no per-row Python.
- A writer hands the z-value to ``repartitionByRange``: ONE range
  exchange (sampled boundaries), after which each output file covers a
  compact z-interval — which is exactly a small hyper-rectangle set in
  the original column space, so every z-dimension gets tight per-file
  min/max.

Reference basis: public Z-ordering literature and lakehouse docs
(Morton curves for data skipping); no reference-repo counterpart —
this is part of the beyond-reference large-scale pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bq(name: str) -> str:
    """Backtick-quote a column name for both F.col and generated SQL
    (escaping embedded backticks) — 'a-b' or 'a.b' are legal parquet
    names that would otherwise parse as expressions/struct paths."""
    return "`" + name.replace("`", "``") + "`"


def _interleave_expr(scaled_cols: list[str], bits: int) -> Column:
    """Morton-interleave ``len(scaled_cols)`` ``bits``-wide non-negative
    bigints into one bigint: bit ``i`` of column ``j`` lands at
    position ``i * ncols + j``. Generated as one SQL string so the
    driver ships a single parsed expression (the q89/q98 literal-block
    lesson) and the oracle can repeat it verbatim."""
    ncols = len(scaled_cols)
    terms = [
        f"(shiftleft(shiftright({c}, {i}) & 1, {i * ncols + j}))"
        for j, c in enumerate(scaled_cols)
        for i in range(bits)
    ]
    return F.expr(" + ".join(terms))


def zorder_values(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 16,
) -> DataFrame:
    """All input columns plus ``zval`` (bigint Morton code over
    ``cols``). Columns must be integral (bigint-castable without loss);
    constant columns contribute zero bits (min == max -> scaled 0),
    NULLs scale to 0 (sort first — the same convention NULLS FIRST
    range sorting applies).

    Total z-width is ``bits * len(cols)`` and must fit a signed 64-bit
    value; 16 bits x up to 3 columns is the sweet spot — per-file
    skipping needs only enough resolution to separate FILES, not rows.
    """
    if not cols:
        raise ValueError("zorder_values: need at least one column")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"bits * len(cols) must be in [1, 62], got {bits} * {len(cols)}"
        )
    if "zval" in df.columns:
        # the output column would silently shadow it (and the generated
        # SQL could read the wrong one) — make the caller rename first
        raise ValueError("zorder_values: input already has a 'zval' column; rename it first")
    integral = {"byte", "tinyint", "short", "smallint", "int", "integer", "long", "bigint"}
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"zorder_values: unknown column {c!r}")
        t = df.schema[c].dataType.simpleString()
        if t not in integral:
            raise ValueError(
                f"zorder_values: column {c!r} is {t}; only integral types "
                "z-order losslessly (bucket floats/timestamps to ints first "
                "— e.g. epoch seconds, fixed-point cents)"
            )
    span = (1 << bits) - 1
    mm = df.agg(
        *[F.min(F.col(_bq(c)).cast("long")).alias(f"__mn_{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(_bq(c)).cast("long")).alias(f"__mx_{j}") for j, c in enumerate(cols)],
    )
    staged = df.crossJoin(F.broadcast(mm))
    scaled_names = []
    scaled_exprs = []
    # overflow guard: the precise `(v - mn) * span DIV range` form
    # multiplies before dividing, which overflows a signed long once
    # range exceeds ~2^63/span (~1.4e14 at 16 bits — a NANOSECOND epoch
    # column crosses it). Past that bar, switch to the divide-first
    # bucket-width form `(v - mn) DIV (range DIV (span+1) + 1)`: no
    # multiply, still in [0, span], still pure integer arithmetic —
    # both branches engine-portable and replayed verbatim by the q182
    # oracle. ANSI mode would otherwise fail the job at runtime.
    mul_safe = (1 << 63) // (span + 1) - 1
    for j, c in enumerate(cols):
        # backtick-quote the user column in the generated SQL: a legal
        # parquet name with spaces/dashes/dots ('a-b') would otherwise
        # parse as an expression (subtraction of columns a and b) or
        # fail outright (round-8 review finding)
        cq = _bq(c)
        # integer DIV: exact and engine-portable (no float path)
        v = f"(coalesce(cast({cq} as bigint), __mn_{j}) - __mn_{j})"
        rng = f"(__mx_{j} - __mn_{j})"
        # outer coalesce: an ALL-NULL column (min/max NULL -> every
        # CASE test NULL) must contribute constant-0 bits like a
        # constant column, not poison the whole zval to NULL (which
        # would collapse repartitionByRange to one partition)
        scaled = F.expr(
            f"coalesce(CASE WHEN __mx_{j} <= __mn_{j} THEN 0 "
            f"WHEN {rng} <= {mul_safe} THEN ({v} * {span}) DIV {rng} "
            f"ELSE {v} DIV (({rng} DIV {span + 1}) + 1) END, 0)"
        )
        name = f"__z_{j}"
        scaled_names.append(name)
        scaled_exprs.append(scaled.alias(name))
    staged = staged.select(*df.columns, *scaled_exprs)
    return staged.select(
        *df.columns, _interleave_expr(scaled_names, bits).alias("zval")
    )


def zorder_prepare(
    df: DataFrame,
    resolutions: dict[str, float],
) -> tuple[DataFrame, list[str]]:
    """Fixed-point on-ramp for non-integral z-order columns:
    ``zorder_values`` (correctly) refuses floats and timestamps — their
    bit patterns do not interleave meaningfully — so this helper turns
    each into the integral bucket column the error message asks for:

        bucket = floor(value / resolution)       (bigint)

    with ``resolution`` in the column's natural unit — 0.01 buckets a
    price to CENTS, 3600 buckets a timestamp to HOURS (timestamps
    first become fractional epoch seconds via ``cast(ts as double)``;
    dates go through timestamp at the session timezone's midnight).
    Returns ``(df + one '<col>_zb' bigint column per entry, the new
    column names in input order)`` — feed the names straight to
    ``zorder_values``; NULLs stay NULL (they scale to the dimension
    minimum downstream, the documented NULLS-FIRST convention).

    Resolution only affects LAYOUT quality, not correctness: too-fine
    wastes z-bits on intra-file noise, too-coarse collapses files
    together; a good default is (expected column span) / 2^bits. The
    float divide-then-floor is engine-portable IEEE double math (the
    q186 oracle and the Python property test replay it bit-for-bit).
    """
    from pyspark.sql import types as T

    if not resolutions:
        raise ValueError("zorder_prepare: need at least one column")
    out = df
    names: list[str] = []
    for c, r in resolutions.items():
        if c not in df.columns:
            raise ValueError(f"zorder_prepare: unknown column {c!r}")
        r = float(r)
        if not r > 0:
            raise ValueError(f"zorder_prepare: resolution for {c!r} must be > 0, got {r}")
        dt = df.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            v = F.col(_bq(c)).cast("timestamp").cast("double")  # epoch seconds
        elif isinstance(dt, T.NumericType):
            v = F.col(_bq(c)).cast("double")
        else:
            raise ValueError(
                f"zorder_prepare: column {c!r} is {dt.simpleString()}; only "
                "numeric/timestamp/date columns can be bucketed"
            )
        name = f"{c}_zb"
        if name in out.columns:
            raise ValueError(f"zorder_prepare: output column {name!r} already exists")
        out = out.withColumn(name, F.floor(v / F.lit(r)).cast("long"))
        names.append(name)
    return out, names


def layout_skipping_stats(
    df: DataFrame,
    cols: list[str],
    *,
    num_partitions: int,
    bits: int = 16,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Measured (not asserted) skipping quality of the z-layout: one
    row per z-bucket with each dimension's in-bucket min/max. The
    figure of merit downstream is the average fractional RANGE each
    bucket covers per dimension — tight ranges are what lets a reader
    prune files. Buckets are equal-size cuts of the exact global
    (zval, cols...) order via distributed_order.global_row_number (one
    materialized range exchange — never a single-task global window),
    deterministic and oracle-replayable; a writer would instead take
    ``repartitionByRange``'s sampled range exchange on the z-value."""
    from usajobs_etl_service_spark.operators.distributed_order import (
        global_row_number,
    )

    zed = zorder_values(df, cols, bits=bits)
    # ``tiebreak_cols`` must make the order TOTAL: bucket boundaries
    # that split a tie group nondeterministically would make the
    # per-bucket min/max engine-dependent (the q28 contract)
    order = (
        [F.col("zval").asc()]
        + [F.col(_bq(c)).asc() for c in cols]
        + [F.col(_bq(c)).asc() for c in (tiebreak_cols or [])]
    )
    rn = global_row_number(zed, order)
    total = rn.agg(F.count(F.lit(1)).alias("__n"))
    bucketed = rn.crossJoin(F.broadcast(total)).select(
        *zed.columns,
        # balanced contiguous cuts of the exact global order (sizes
        # differ by <= 1): pure integer math, engine-portable
        F.expr(f"((global_rn - 1) * {int(num_partitions)}) DIV __n").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            agg
            for c in cols
            for agg in (
                F.min(F.col(_bq(c)).cast("long")).alias(f"min_{c}"),
                F.max(F.col(_bq(c)).cast("long")).alias(f"max_{c}"),
            )
        ],
    )


def hilbert_attach(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    bits: int = 8,
    out_col: str = "hilbert_d",
) -> DataFrame:
    """Attach the 2-D Hilbert-curve index of ``(x_col, y_col)`` — the
    space-filling curve with strictly better locality than Z-order
    (every consecutive pair of Hilbert addresses is a UNIT step in
    (x, y); Morton jumps across the plane at power-of-two boundaries),
    at the cost of a stateful per-bit rotation Z-order doesn't need.
    Use exactly like the Morton z-value: range-partition on the index,
    and rectangle predicates touch few partitions.

    Inputs must be integral in ``[0, 2^bits)`` — the same contract as
    the Morton interleave; ``zorder_prepare`` (fixed-point buckets) is
    the on-ramp for floats/timestamps. Implementation is the canonical
    xy2d iteration (rotate-and-accumulate) UNROLLED into ``bits``
    chained projections — each level is a handful of bit ops on the
    carried (x, y, d) columns, all codegen'd, no UDF. Intermediate x/y
    can legitimately go NEGATIVE mid-iteration (the complement step
    s-1-x on a value still carrying lower bits); two's-complement
    ``&`` handles it identically in Spark, DuckDB, and Python, which
    is what makes the index hash-checkable (property-tested against
    the Python reference; bijection + unit-step adjacency tested on a
    full grid in tests/test_layout.py).
    """
    if bits < 1 or bits > 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    for c in ("__hx", "__hy", "__hd"):
        if c in df.columns:
            raise ValueError(f"column {c} collides with the working columns")
    cur = df.select(
        "*",
        F.col(x_col).cast("long").alias("__hx"),
        F.col(y_col).cast("long").alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )
    passthrough = [c for c in df.columns]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        hx, hy = F.col("__hx"), F.col("__hy")
        rx = (hx.bitwiseAND(F.lit(s)) > 0).cast("long")
        ry = (hy.bitwiseAND(F.lit(s)) > 0).cast("long")
        nd = F.col("__hd") + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)
        comp = rx == 1
        nx = F.when(
            ry == 0, F.when(comp, F.lit(s - 1) - hy).otherwise(hy)
        ).otherwise(hx)
        ny = F.when(
            ry == 0, F.when(comp, F.lit(s - 1) - hx).otherwise(hx)
        ).otherwise(hy)
        cur = cur.select(
            *passthrough, nx.alias("__hx"), ny.alias("__hy"), nd.alias("__hd")
        )
    return cur.drop("__hx", "__hy").withColumnRenamed("__hd", out_col)
