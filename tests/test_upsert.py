"""Upsert sink semantics (S6/J1/A8) — mirrors the reference's
integration assertions (reference tests/test_integration.py:70-151):
insert metrics, update-in-place with stable row count, created_at
preserved / updated_at taken from the batch. The merge takes a
key-unique batch; in-batch first-wins dedup is the caller's (see
``test_pipeline::test_in_batch_dup_first_wins``)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.sinks.upsert import merge_upsert, upsert_stats

SCHEMA = "position_uri string, position_title string, salary string, created_at timestamp, updated_at timestamp"
T0 = datetime.datetime(2023, 1, 1, 0, 0, 0)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def base(spark):
    return _df(
        spark,
        [
            ("https://jobs/1", "Data Engineer", "$80,000", T0, T0),
            ("https://jobs/2", "Analyst", "$70,000", T0, T0),
        ],
    )


def test_insert_two_new_rows(spark, base):
    batch = _df(
        spark,
        [
            ("https://jobs/3", "SRE", "$90,000", T0, T0),
            ("https://jobs/4", "PM", "$95,000", T0, T0),
        ],
    )
    stats = upsert_stats(base, batch, ["position_uri"])
    assert stats == {"inserted": 2, "updated": 0, "total": 2}
    merged = merge_upsert(base, batch, ["position_uri"])
    assert merged.count() == 4


def test_update_in_place_count_stable(spark, base):
    batch = _df(spark, [("https://jobs/1", "Data Engineer II", "$99,000", T0, T0)])
    stats = upsert_stats(base, batch, ["position_uri"])
    assert stats == {"inserted": 0, "updated": 1, "total": 1}
    merged = merge_upsert(base, batch, ["position_uri"])
    assert merged.count() == 2  # count stays stable
    row = merged.filter(F.col("position_uri") == "https://jobs/1").first()
    assert row["position_title"] == "Data Engineer II"
    assert row["salary"] == "$99,000"


def test_created_preserved_updated_refreshed(spark, base):
    t1 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    batch = _df(spark, [("https://jobs/1", "Data Engineer II", "$99,000", t1, t1)])
    merged = merge_upsert(base, batch, ["position_uri"], preserve_cols=["created_at"])
    row = merged.filter(F.col("position_uri") == "https://jobs/1").first()
    assert row["created_at"] == T0  # preserved from base
    assert row["updated_at"] == t1  # the batch's stamp is the one written
    new_row = merge_upsert(
        base,
        _df(spark, [("https://jobs/9", "New", "$1", t1, t1)]),
        ["position_uri"],
        preserve_cols=["created_at"],
    ).filter(F.col("position_uri") == "https://jobs/9").first()
    assert new_row["created_at"] == t1  # no base row -> batch value kept

