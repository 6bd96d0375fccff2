"""Z-order layout: Morton-code correctness on a hand grid, measured
multi-dimension locality vs a single-column sort, file-level ranges of
a z-ordered write, and the no-UDF/no-lambda plan posture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.layout import (
    layout_skipping_stats,
    zorder_values,
)


def _grid(spark, n):
    return (
        spark.range(n * n)
        .select((F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y"))
    )


def _morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_matches_hand_morton_codes(spark):
    # 4x4 grid, bits=2: min=0, max=3, span=3 -> scaled value == raw value
    rows = zorder_values(_grid(spark, 4), ["x", "y"], bits=2).collect()
    got = {(r["x"], r["y"]): r["zval"] for r in rows}
    want = {(x, y): _morton(x, y, 2) for x in range(4) for y in range(4)}
    assert got == want


def test_zorder_scaling_is_integer_exact_and_null_safe(spark):
    df = spark.createDataFrame(
        [(0, 10), (None, 20), (100, 30)], "a int, b int"
    )
    rows = {r["b"]: r["zval"] for r in zorder_values(df, ["a", "b"], bits=4).collect()}
    # a: min 0 max 100, span 15 -> 0, NULL->min->0, 100->15
    # b: min 10 max 30 -> 0, 7 ((10*15) DIV 20), 15
    def mz(a, b):
        return _morton(a, b, 4)

    assert rows[10] == mz(0, 0)
    assert rows[20] == mz(0, 7)
    assert rows[30] == mz(15, 15)


def test_constant_column_contributes_zero_bits(spark):
    df = spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "a int, b int")
    rows = zorder_values(df, ["a", "b"], bits=4).collect()
    # b constant -> scaled 0 everywhere; zval is a's bits spread at even positions
    for r in rows:
        assert r["zval"] == _morton(((r["a"] - 1) * 15) // 2, 0, 4)


def test_zorder_buckets_are_tighter_than_single_column_sort(spark):
    """The point of the layout, measured: cut a 32x32 grid into 16
    buckets. Sorted by x alone, every bucket spans y's FULL range
    (skipping on y prunes nothing). Z-ordered, both dimensions' average
    in-bucket range must be a small fraction of the span."""
    g = _grid(spark, 32)
    stats = layout_skipping_stats(g, ["x", "y"], num_partitions=16, bits=5).collect()
    assert len(stats) == 16
    assert sum(r["n_rows"] for r in stats) == 32 * 32
    avg_rng_x = sum(r["max_x"] - r["min_x"] for r in stats) / 16 / 31.0
    avg_rng_y = sum(r["max_y"] - r["min_y"] for r in stats) / 16 / 31.0
    # x-sorted baseline: y covers the full span in every bucket (1.0),
    # x covers ~1/16 (0.0625). Z-order balances both near sqrt(1/16).
    assert avg_rng_x < 0.5 and avg_rng_y < 0.5, (avg_rng_x, avg_rng_y)
    assert max(avg_rng_x, avg_rng_y) < 0.9  # strictly better than full-span


def test_zorder_plan_is_pure_expression(spark):
    g = _grid(spark, 8)
    p = (
        zorder_values(g, ["x", "y"], bits=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "lambdafunction" not in p
    # the only join is the broadcast of the 1-row min/max aggregate
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_zorder_param_validation(spark):
    g = _grid(spark, 4)
    with pytest.raises(ValueError):
        zorder_values(g, [], bits=8)
    with pytest.raises(ValueError):
        zorder_values(g, ["x", "y"], bits=32)  # 64 bits > 62


def test_zorder_rejects_non_integral_columns(spark):
    df = spark.createDataFrame([(1, 2.5)], "a int, f double")
    with pytest.raises(ValueError, match="integral"):
        zorder_values(df, ["a", "f"], bits=8)
    with pytest.raises(ValueError, match="unknown"):
        zorder_values(df, ["nope"], bits=8)


def test_zorder_parquet_files_have_tight_multi_dim_ranges(spark, tmp_path):
    """File-level proof of the skipping story: write the same 64x64
    grid as (a) 8 z-ordered parquet files and (b) 8 x-sorted files,
    then recover each FILE's per-dimension min/max via
    input_file_name(). A reader pruning on a y-predicate touches every
    x-sorted file (each spans y's full range) but only a fraction of
    the z-ordered ones. This is the same min/max machinery parquet
    row-group skipping uses, measured on real files."""
    from pyspark.sql.functions import input_file_name

    g = _grid(spark, 64)
    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    zed = zorder_values(g, ["x", "y"], bits=6)
    zed.repartitionByRange(8, "zval").sortWithinPartitions("zval").drop(
        "zval"
    ).write.parquet(zdir)
    g.repartitionByRange(8, F.col("x")).write.parquet(xdir)

    def file_ranges(path):
        df = spark.read.parquet(path).select(
            "x", "y", input_file_name().alias("f")
        )
        return (
            df.groupBy("f")
            .agg(
                F.min("y").alias("lo"), F.max("y").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )

    span = 63.0
    z_files, x_files = file_ranges(zdir), file_ranges(xdir)
    assert sum(r["n"] for r in z_files) == 64 * 64
    z_avg_y = sum((r["hi"] - r["lo"]) / span for r in z_files) / len(z_files)
    x_avg_y = sum((r["hi"] - r["lo"]) / span for r in x_files) / len(x_files)
    # x-sorted files each cover (nearly) all of y; z-ordered files
    # cover a small fraction — at least 2x tighter, typically ~4x
    assert x_avg_y > 0.9, x_avg_y
    assert z_avg_y < x_avg_y / 2, (z_avg_y, x_avg_y)

    # and the y-predicate file count: how many files COULD contain y<8
    hit_z = sum(1 for r in z_files if r["lo"] < 8)
    hit_x = sum(1 for r in x_files if r["lo"] < 8)
    assert hit_x == len(x_files)  # every x-sorted file must be read
    assert hit_z <= len(z_files) // 2  # z-layout prunes at least half


def test_zorder_matches_python_reference_on_random_ints(spark):
    """Property check against a direct Python transcription of the
    scaling + Morton interleave, over random (possibly negative,
    skewed) bigints and 3 columns."""
    import random

    rng = random.Random(31)
    rows = [
        (rng.randint(-1000, 10_000), rng.randint(0, 5), rng.randint(-7, -1))
        for _ in range(200)
    ]
    bits = 8
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = {
        (r["a"], r["b"], r["c"]): r["zval"]
        for r in zorder_values(df, ["a", "b", "c"], bits=bits).collect()
    }
    span = (1 << bits) - 1
    mins = [min(r[j] for r in rows) for j in range(3)]
    maxs = [max(r[j] for r in rows) for j in range(3)]

    def ref(row):
        z = 0
        for j in range(3):
            rng_j = maxs[j] - mins[j]
            s = ((row[j] - mins[j]) * span) // rng_j if rng_j > 0 else 0
            for i in range(bits):
                z |= ((s >> i) & 1) << (i * 3 + j)
        return z

    for row in rows:
        assert got[row] == ref(row), row


def test_zorder_survives_nanosecond_scale_ranges(spark):
    """Ranges past ~2^63/span overflow the multiply-first scaling under
    ANSI; the divide-first fallback must kick in, stay in [0, span],
    and keep the ordering monotone per dimension."""
    lo, hi = 0, 1_600_000_000_000_000_000  # ~50 years of nanoseconds
    rows = [(lo, 1), (hi // 3, 2), (2 * hi // 3, 3), (hi, 4)]
    df = spark.createDataFrame(rows, "ts long, k int")
    got = sorted(
        (r["ts"], r["zval"]) for r in zorder_values(df, ["ts"], bits=16).collect()
    )
    zs = [z for _, z in got]
    assert zs == sorted(zs) and len(set(zs)) == 4  # monotone, distinct
    assert 0 <= min(zs) and max(zs) <= (1 << 16) - 1


def test_zorder_all_null_column_degrades_to_constant(spark):
    """An all-NULL column contributes constant-0 bits; the other
    dimension's clustering survives (zval never NULL)."""
    df = spark.createDataFrame(
        [(i, None) for i in range(8)], "a long, b long"
    )
    rows = zorder_values(df, ["a", "b"], bits=3).collect()
    assert all(r["zval"] is not None for r in rows)
    zs = sorted((r["a"], r["zval"]) for r in rows)
    assert [z for _, z in zs] == sorted(z for _, z in zs)  # a-monotone


def test_zorder_quotes_special_column_names(spark):
    """Round-8 review finding: 'a-b' alongside columns a and b must be
    read as the COLUMN 'a-b' (backtick-quoted in the generated SQL),
    never parsed as a - b; an existing zval column must be rejected."""
    df = spark.range(64).select(
        F.col("id").alias("a-b"),
        (F.col("id") * 3 % 61).alias("c d"),
        F.lit(1000).alias("a"),
        F.lit(1).alias("b"),
    )
    out = zorder_values(df, ["a-b", "c d"], bits=8)
    rows = out.collect()
    assert len(rows) == 64 and all(r["zval"] is not None for r in rows)
    # if 'a-b' had parsed as a - b (constant 999), every zval's even
    # bits would be identical; the real column varies
    assert len({r["zval"] for r in rows}) == 64
    with pytest.raises(ValueError, match="zval"):
        zorder_values(df.withColumnRenamed("a", "zval"), ["a-b"])


def test_zorder_prepare_property_roundtrip(spark):
    """Property test: the fixed-point bucketing must equal the Python
    reference floor(v / r) bit-for-bit (same IEEE double divide) for
    floats, timestamps (fractional epoch seconds), and dates; NULLs
    stay NULL; and bucket order must be monotone in the raw value."""
    import datetime as dt
    import math

    from hypothesis import given, settings, strategies as st

    from usajobs_etl_service_spark.operators.layout import zorder_prepare

    @settings(max_examples=20, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
                ),
            ),
            min_size=1,
            max_size=20,
        ),
        res=st.sampled_from([0.01, 0.25, 1.0, 3600.0]),
    )
    def check(vals, res):
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
        out, names = zorder_prepare(df, {"v": res})
        assert names == ["v_zb"]
        got = {r["i"]: r["v_zb"] for r in out.collect()}
        for i, v in enumerate(vals):
            want = None if v is None else math.floor(v / res)
            assert got[i] == want, (v, res, got[i], want)

    check()

    # timestamps: buckets of 3600 s = hours since epoch (tz-free via
    # timestamp_seconds so the oracle-portable epoch math is what's
    # tested, not the session timezone)
    ts = spark.range(5).select(
        "id", F.timestamp_seconds(F.col("id") * 5000 + 1234567).alias("t")
    )
    out, names = zorder_prepare(ts, {"t": 3600})
    got = {r["id"]: r["t_zb"] for r in out.collect()}
    assert got == {i: (i * 5000 + 1234567) // 3600 for i in range(5)}

    # dates: midnight at session tz -> whole-day buckets are stable
    d = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 3)), (3, None)],
        "i long, d date",
    )
    out, names = zorder_prepare(d, {"d": 86400.0})
    got = {r["i"]: r["d_zb"] for r in out.collect()}
    assert got[2] is not None and got[1] is not None and got[3] is None
    assert got[2] - got[1] == 2  # two days apart

    # validation
    with pytest.raises(ValueError, match="resolution"):
        zorder_prepare(d, {"d": 0})
    with pytest.raises(ValueError, match="unknown"):
        zorder_prepare(d, {"nope": 1.0})
    with pytest.raises(ValueError, match="numeric"):
        zorder_prepare(d.select("i", F.lit("s").alias("x")), {"x": 1.0})


def test_zorder_prepare_feeds_zorder_values(spark):
    """End-to-end: prepared float/timestamp columns pass zorder_values'
    integral gate and produce a clustered layout."""
    from usajobs_etl_service_spark.operators.layout import zorder_prepare

    df = spark.range(256).select(
        (F.col("id") * 1.37 % 100.0).alias("price"),
        F.timestamp_seconds(F.col("id") * 977).alias("ts"),
    )
    prepped, names = zorder_prepare(df, {"price": 0.01, "ts": 60})
    out = zorder_values(prepped, names, bits=8)
    rows = out.collect()
    assert len(rows) == 256 and all(r["zval"] is not None for r in rows)
    assert len({r["zval"] for r in rows}) > 200  # real spread, not constant


def _py_xy2d(bits, x, y):
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_python_reference(spark):
    import random

    from usajobs_etl_service_spark.operators.layout import hilbert_attach

    rnd = random.Random(11)
    pts = [(rnd.randrange(256), rnd.randrange(256)) for _ in range(400)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["hilbert_d"]
        for r in hilbert_attach(df, "x", "y", bits=8).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_xy2d(8, x, y), (x, y)


def test_hilbert_bijection_and_unit_step_adjacency(spark):
    """The locality property that beats Morton: consecutive Hilbert
    addresses are UNIT steps in the plane — on the full 16x16 grid the
    index is a bijection and every d -> d+1 moves exactly one cell."""
    from usajobs_etl_service_spark.operators.layout import hilbert_attach

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        r["hilbert_d"]: (r["x"], r["y"])
        for r in hilbert_attach(df, "x", "y", bits=4).collect()
    }
    assert sorted(got) == list(range(256))  # bijection
    assert all(
        abs(got[i][0] - got[i + 1][0]) + abs(got[i][1] - got[i + 1][1]) == 1
        for i in range(255)
    )


def test_hilbert_validation(spark):
    from usajobs_etl_service_spark.operators.layout import hilbert_attach

    df = spark.createDataFrame([(1, 2, 3)], ["x", "y", "__hd"])
    with pytest.raises(ValueError, match="bits"):
        hilbert_attach(df, "x", "y", bits=0)
    with pytest.raises(ValueError, match="collides"):
        hilbert_attach(df, "x", "y")
