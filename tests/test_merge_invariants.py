"""Merge/upsert algebraic invariants across randomized batches:
metrics add up, counts balance, idempotence holds."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.sinks.upsert import merge_upsert, prepare_batch, upsert_stats


def _rows(rng, keys):
    return [(f"https://jobs/{k}", f"title-{rng.randrange(1000)}") for k in keys]


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_merge_invariants(spark, seed):
    rng = random.Random(seed)
    base_keys = rng.sample(range(100), 40)
    batch_keys = [rng.randrange(130) for _ in range(30)]  # overlaps + news + in-batch dups
    schema = "position_uri string, position_title string"
    base = spark.createDataFrame(_rows(rng, base_keys), schema)
    batch = spark.createDataFrame(_rows(rng, batch_keys), schema)

    stats = upsert_stats(base, batch, ["position_uri"])
    n_batch_distinct = prepare_batch(batch, ["position_uri"]).count()
    n_overlap = len(set(base_keys) & set(batch_keys))

    # metrics add up exactly
    assert stats["inserted"] + stats["updated"] == stats["total"] == n_batch_distinct
    assert stats["updated"] == n_overlap

    merged = merge_upsert(base, batch, ["position_uri"])
    # count balances: base + inserted
    assert merged.count() == base.count() + stats["inserted"]
    # keys unique after merge
    assert merged.select("position_uri").distinct().count() == merged.count()

    # idempotence: merging the merged batch again -> zero inserts
    stats2 = upsert_stats(merged, prepare_batch(batch, ["position_uri"]), ["position_uri"])
    assert stats2["inserted"] == 0
    merged2 = merge_upsert(merged, prepare_batch(batch, ["position_uri"]), ["position_uri"])
    assert merged2.count() == merged.count()
    # last-writer-wins: every batch key's title comes from the batch
    batch_titles = {
        r["position_uri"]: r["position_title"]
        for r in prepare_batch(batch, ["position_uri"]).collect()
    }
    for r in merged.filter(F.col("position_uri").isin(list(batch_titles))).collect():
        assert r["position_title"] == batch_titles[r["position_uri"]]
