"""JDBC upsert writer (SQL generation + batching via fake DB-API
connection) and the version store's retention and file layout."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
from usajobs_etl_service_spark.sinks.jdbc import build_upsert_sql, jdbc_upsert, upsert_partition
from usajobs_etl_service_spark.sinks import snapshot


class FakeCursor:
    """DB-API cursor that records SQL and simulates ON CONFLICT xmax flags."""

    def __init__(self, existing_keys, key_idx):
        self.existing = existing_keys
        self.key_idx = key_idx
        self.executed = []
        self._flags = []

    def execute(self, sql, params):
        self.executed.append((sql, list(params)))
        n_cols = sql.split("VALUES")[0].count(",") + 1
        rows = [tuple(params[i : i + n_cols]) for i in range(0, len(params), n_cols)]
        self._flags = []
        for r in rows:
            k = r[self.key_idx]
            self._flags.append((k not in self.existing,))
            self.existing.add(k)

    def fetchall(self):
        return self._flags


class FakeConn:
    def __init__(self, existing, key_idx):
        self.cur = FakeCursor(existing, key_idx)
        self.committed = False

    def cursor(self):
        return self.cur

    def commit(self):
        self.committed = True

    def close(self):
        pass


def test_build_upsert_sql_shape():
    sql = build_upsert_sql("job_postings", ["position_uri", "position_title", "created_at"], "position_uri", 2)
    assert "INSERT INTO job_postings (position_uri, position_title, created_at)" in sql
    assert sql.count("(%s, %s, %s)") == 2
    assert "ON CONFLICT (position_uri) DO UPDATE SET" in sql
    # created_at never updated; updated_at refreshed; key not self-assigned
    assert "created_at = EXCLUDED" not in sql
    assert "position_uri = EXCLUDED" not in sql
    assert "position_title = EXCLUDED.position_title" in sql
    assert "updated_at = CURRENT_TIMESTAMP" in sql
    assert "RETURNING (xmax = 0)" in sql


def test_upsert_partition_batching_and_flags():
    conns = []

    def connect():
        c = FakeConn(existing={"u1"}, key_idx=0)
        conns.append(c)
        return c

    rows = [{"position_uri": f"u{i}", "position_title": f"t{i}"} for i in range(5)]
    ins, upd = upsert_partition(
        iter(rows), table="t", columns=["position_uri", "position_title"], key="position_uri",
        batch_size=2, connect=connect,
    )
    assert (ins, upd) == (4, 1)  # u1 existed -> update
    assert len(conns) == 1 and conns[0].committed
    assert len(conns[0].cur.executed) == 3  # 2+2+1 rows in 3 batches


def test_jdbc_upsert_distributed(spark):
    existing = {"u0"}

    def connect():
        return FakeConn(existing, key_idx=0)

    df = spark.createDataFrame(
        [(f"u{i}", f"t{i}") for i in range(10)], "position_uri string, position_title string"
    )
    stats = jdbc_upsert(df, table="job_postings", key="position_uri", batch_size=3,
                        max_connections=2, connect=connect)
    assert stats["total"] == 10
    assert stats["inserted"] + stats["updated"] == 10
    # u0 pre-existed; on a fresh single-driver run the flag split is exact
    assert stats["updated"] >= 1


def test_snapshot_retention(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(snapshot, "KEEP_LAST", 3)
    base = str(tmp_path / "snaps")
    names = [snapshot.write_version(spark, base, spark.range(n), ["id"]) for n in (1, 2, 3, 4)]
    assert names == sorted(names) and len(set(names)) == 4  # back-to-back writes never collide
    assert snapshot.list_versions(spark, base) == names[1:]  # oldest pruned
    assert spark.read.parquet(snapshot.latest_committed(spark, base)).count() == 4


def test_snapshot_sizes_files_from_the_newest_version(spark, tmp_path):
    """A version is ``ceil(B / maxPartitionBytes)`` files, ``B`` being the
    newest committed version's bytes, and each file is sorted by the key."""
    base = str(tmp_path / "sized")
    n = 20_000
    shuffled = spark.range(0, n, 1, 8).select(
        (F.col("id") * 7919 % n).alias("id"), F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    snapshot.write_version(spark, base, shuffled, ["id"])
    first = snapshot.latest_committed(spark, base)
    assert len([f for f in os.listdir(first) if f.startswith("part-")]) == 1  # no base yet
    size = sum(os.path.getsize(os.path.join(first, f)) for f in os.listdir(first) if not f.startswith("."))
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    target = size // 3 + 1
    spark.conf.set(conf, str(target))
    try:
        snapshot.write_version(spark, base, shuffled, ["id"])
    finally:
        spark.conf.set(conf, old)
    newest = snapshot.latest_committed(spark, base)
    parts = [os.path.join(newest, f) for f in os.listdir(newest) if f.startswith("part-")]
    assert len(parts) == math.ceil(size / target) == 3
    ids = [pq.read_table(p).column("id").to_pylist() for p in parts]
    assert all(i == sorted(i) for i in ids)
    assert sorted(x for i in ids for x in i) == list(range(n))


def test_jdbc_upsert_dedups_batch_by_key(spark):
    """A key appearing twice in one batch must reach PG once (PG aborts a
    multi-VALUES ON CONFLICT statement touching the same row twice)."""
    def connect():
        return FakeConn(existing=set(), key_idx=0)

    rows = [(f"u{i % 5}", f"t{i}", i) for i in range(20)]  # 5 distinct keys
    df = spark.createDataFrame(rows, "position_uri string, position_title string, seq long")
    stats = jdbc_upsert(df, table="job_postings", key="position_uri", batch_size=3,
                        max_connections=4, connect=connect)
    assert stats["total"] == 5
    assert stats["inserted"] == 5 and stats["updated"] == 0


def test_jdbc_upsert_writes_real_order_column(spark, tmp_path):
    """The caller's first-wins dedup, then the write: the ordering
    column (here extracted_at) is a real table column, so it must
    survive into the written column list, and the row written per key
    must be the one with the minimum ordering value. Executor-side SQL
    is captured through the shared filesystem (local mode)."""
    import json
    import os
    import uuid

    capdir = str(tmp_path / "captured")
    os.makedirs(capdir, exist_ok=True)

    def connect():
        conn = FakeConn(existing=set(), key_idx=0)
        orig_commit = conn.commit

        def commit():
            orig_commit()
            with open(os.path.join(capdir, uuid.uuid4().hex + ".json"), "w") as f:
                json.dump(conn.cur.executed, f)

        conn.commit = commit
        return conn

    # 5 keys x 3 versions; version 0 has the smallest extracted_at
    rows = [(f"u{i % 5}", f"title-{i % 5}-v{i // 5}", 100 + (i // 5)) for i in range(15)]
    df = spark.createDataFrame(rows, "position_uri string, position_title string, extracted_at long")
    batch = dedup_first_wins(df, ["position_uri"], "extracted_at")
    stats = jdbc_upsert(
        batch, table="job_postings", key="position_uri", batch_size=10,
        max_connections=2, connect=connect,
    )
    assert stats["total"] == 5

    executed = []
    for name in os.listdir(capdir):
        executed.extend(json.load(open(os.path.join(capdir, name))))
    assert executed, "no SQL captured from executors"
    titles, extracted = set(), set()
    for sql, params in executed:
        assert "extracted_at" in sql.split("VALUES")[0]  # column list keeps it
        titles.update(p for p in params if isinstance(p, str) and p.startswith("title-"))
        extracted.update(p for p in params if isinstance(p, int))
    assert titles == {f"title-{k}-v0" for k in range(5)}  # first-wins rows only
    assert extracted == {100}


def test_snapshot_retention_with_file_uri(spark, tmp_path, monkeypatch):
    """Version maintenance goes through the Hadoop FS API, so a
    scheme-qualified URI (file:, and by extension hdfs:/s3a:) works."""
    monkeypatch.setattr(snapshot, "KEEP_LAST", 2)
    base = "file://" + str(tmp_path / "snaps_uri")
    for n in (1, 2, 3):
        snapshot.write_version(spark, base, spark.range(n), ["id"])
    assert len(snapshot.list_versions(spark, base)) == 2
    assert spark.read.parquet(snapshot.latest_committed(spark, base)).count() == 3
