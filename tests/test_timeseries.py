"""Semantic tests for operators/timeseries.py (cross-engine equality
is the q99/q100 oracle-parity rows)."""

from __future__ import annotations

from datetime import datetime

from usajobs_etl_service_spark.operators.timeseries import (
    resample_gapfill,
    scd2_intervals,
    sessionize,
    windowed_event_counts,
)
from usajobs_etl_service_spark.session import read_table

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ev(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_resample_fills_gaps_and_forward_fills(spark):
    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 7, "view", 1.0),
        (2, datetime(2024, 1, 1, 0, 50), 7, "view", 2.0),
        # gap: hours 01 and 02 have no events
        (3, datetime(2024, 1, 1, 3, 5), 7, "click", 9.0),
    ]
    out = resample_gapfill(_ev(spark, rows), bucket="hour").collect()
    by_bucket = {r["bucket"].hour: r for r in out}
    assert sorted(by_bucket) == [0, 1, 2, 3]  # dense spine, min..max
    assert by_bucket[0]["n_events"] == 2 and by_bucket[0]["value_ff"] == 2.0
    assert by_bucket[1]["n_events"] == 0 and by_bucket[1]["value_ff"] == 2.0  # gap ffill
    assert by_bucket[2]["n_events"] == 0 and by_bucket[2]["value_ff"] == 2.0
    assert by_bucket[3]["n_events"] == 1 and by_bucket[3]["value_ff"] == 9.0


def test_resample_last_value_tiebreak_on_equal_ts(spark):
    t = datetime(2024, 1, 1, 0, 0)
    rows = [(1, t, 7, "a", 1.0), (2, t, 7, "a", 5.0)]  # same ts: higher event_id wins
    out = resample_gapfill(_ev(spark, rows), bucket="hour").collect()
    assert len(out) == 1 and out[0]["value_ff"] == 5.0 and out[0]["n_events"] == 2


def test_resample_entities_are_independent(spark):
    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 7, "a", 1.0),
        (2, datetime(2024, 1, 1, 5, 0), 8, "a", 2.0),
    ]
    out = resample_gapfill(_ev(spark, rows), bucket="hour").collect()
    # each user spans only its own range: one bucket each, no cross-fill
    assert {(r["user_id"], r["bucket"].hour, r["value_ff"]) for r in out} == {
        (7, 0, 1.0),
        (8, 5, 2.0),
    }


def test_scd2_runs_collapse_and_intervals_chain(spark):
    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 7, "view", 0.0),
        (2, datetime(2024, 1, 1, 1, 0), 7, "view", 0.0),   # same run
        (3, datetime(2024, 1, 1, 2, 0), 7, "click", 0.0),  # change
        (4, datetime(2024, 1, 1, 3, 0), 7, "view", 0.0),   # change back
    ]
    out = sorted(scd2_intervals(_ev(spark, rows)).collect(), key=lambda r: r["valid_from"])
    assert [(r["event_type"], r["valid_from"].hour) for r in out] == [
        ("view", 0),
        ("click", 2),
        ("view", 3),
    ]
    # intervals chain: each valid_to equals the next valid_from; open tail
    assert out[0]["valid_to"] == out[1]["valid_from"]
    assert out[1]["valid_to"] == out[2]["valid_from"]
    assert out[2]["valid_to"] is None


def test_scd2_single_run_is_one_open_interval(spark):
    rows = [(i, datetime(2024, 1, 1, i), 7, "view", 0.0) for i in range(5)]
    out = scd2_intervals(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0]["valid_to"] is None


def test_windowed_counts_on_events(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    out = windowed_event_counts(events, window_duration="1 day")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == events.count()
    # every window boundary is aligned to the day
    assert all(r["window_start"].hour == 0 for r in rows)


def test_sessionize_on_events(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    out = sessionize(events, gap="30 minutes")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == events.count()
    assert all(r["session_end"] >= r["session_start"] for r in rows)
