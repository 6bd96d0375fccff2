"""Property-based merge/upsert invariants over hypothesis-generated
batches (VERDICT r1 item 10): key uniqueness, created_at preservation,
first-wins in-batch dedup, and exact metric sums — all computed against
a pure-Python model of the reference semantics (etl.py:445-525)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Observation
from pyspark.sql import functions as F

from usajobs_etl_service_spark.sinks.upsert import merge_upsert, prepare_batch, upsert_stats

KEYS = st.integers(min_value=0, max_value=15)  # tight range -> dups + overlap likely
ROW = st.tuples(KEYS, st.integers(min_value=0, max_value=999))

SET = settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])

EPOCH = datetime.datetime(2020, 1, 1)
SCHEMA = "position_uri string, position_title string, created_at timestamp, updated_at timestamp, ingest_seq long"


def _df(spark, rows, t0=EPOCH):
    data = [
        (f"https://jobs/{k}", f"title-{v}", t0, t0, i)
        for i, (k, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, SCHEMA)


@given(st.lists(ROW, min_size=0, max_size=25), st.lists(ROW, min_size=1, max_size=25))
@SET
def test_merge_model_parity(spark, base_rows, batch_rows):
    # model: base is already key-unique (first occurrence wins, like a real table)
    base_model: dict[str, str] = {}
    for k, v in base_rows:
        base_model.setdefault(f"https://jobs/{k}", f"title-{v}")
    # real base tables carry no ingest_seq (dropped before merge)
    base = (
        _df(spark, [(k, v) for k, v in base_rows if f"title-{v}" == base_model[f"https://jobs/{k}"]])
        .dropDuplicates(["position_uri"])
        .drop("ingest_seq")
    )

    batch = _df(spark, batch_rows, t0=datetime.datetime(2024, 6, 1))

    # model: first occurrence per key wins within the batch (ingest_seq order)
    batch_model: dict[str, str] = {}
    for k, v in batch_rows:
        batch_model.setdefault(f"https://jobs/{k}", f"title-{v}")

    stats = upsert_stats(base, batch, ["position_uri"], order_col="ingest_seq")
    n_overlap = len(set(base_model) & set(batch_model))
    assert stats["total"] == len(batch_model)
    assert stats["updated"] == n_overlap
    assert stats["inserted"] == len(batch_model) - n_overlap

    observed = Observation()
    merged = merge_upsert(
        base,
        batch,
        ["position_uri"],
        order_col="ingest_seq",
        preserve_cols=["created_at"],
        touch_cols=["updated_at"],
        observation=observed,
    )
    collected = merged.collect()
    # the counts observed on the merge's own action equal the oracle's
    assert observed.get == stats
    rows = {r["position_uri"]: r for r in collected}

    # key uniqueness and exact expected key set
    assert len(rows) == len(collected) == len(set(base_model) | set(batch_model))

    for uri, r in rows.items():
        if uri in batch_model:
            # last-writer-wins vs table, first-wins within batch
            assert r["position_title"] == batch_model[uri]
            # created_at preserved on update, fresh on insert
            if uri in base_model:
                assert r["created_at"] == EPOCH
            else:
                assert r["created_at"] == datetime.datetime(2024, 6, 1)
            # updated_at refreshed on every written row
            assert r["updated_at"] > datetime.datetime(2024, 6, 1)
        else:
            assert r["position_title"] == base_model[uri]
            assert r["created_at"] == EPOCH and r["updated_at"] == EPOCH


@given(st.lists(ROW, min_size=1, max_size=30))
@SET
def test_prepare_batch_first_wins_model(spark, rows):
    batch = _df(spark, rows)
    model: dict[str, str] = {}
    for k, v in rows:
        model.setdefault(f"https://jobs/{k}", f"title-{v}")
    got = {
        r["position_uri"]: r["position_title"]
        for r in prepare_batch(batch, ["position_uri"], "ingest_seq").collect()
    }
    assert got == model
