"""E1 end-to-end pipeline: scan -> flatten -> dedup -> upsert -> stats
(mirrors reference tests/test_integration.py:244-313, 449-578)."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from usajobs_etl_service_spark import pipeline as pipeline_mod
from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
from usajobs_etl_service_spark.schemas import ETL_METADATA_SCHEMA, JOB_POSTING_SCHEMA
from usajobs_etl_service_spark.sinks import snapshot
from usajobs_etl_service_spark.sinks.upsert import merge_upsert
from usajobs_etl_service_spark.sources.rest_api import RateLimitedError, RestPageSource, RetryPolicy

from tests.test_rest_source import make_page, no_sleep, paged_transport


def _pipeline(spark, tmp_path, pages):
    src = RestPageSource(
        transport=paged_transport(pages), page_size=5, retry=RetryPolicy(sleep=no_sleep), sleep=no_sleep
    )
    cfg = PipelineConfig(keyword="data", location=None, table_path=str(tmp_path / "tbl"))
    return JobPipeline(spark, src, cfg)


def _retitled(n: int, suffix: str) -> dict:
    page = make_page(n, 0, n)
    for item in page["SearchResult"]["SearchResultItems"]:
        item["MatchedObjectDescriptor"]["PositionTitle"] += suffix
    return page


def _titles(p) -> dict:
    return {r[0]: r[1] for r in p.current_table().select("position_uri", "position_title").collect()}


def _merge_failing_on_write(*args, **kwargs):
    # a row-level failure: the write job starts, then its tasks raise
    return merge_upsert(*args, **kwargs).filter(F.assert_true(F.col("position_uri").isNull()).isNull())


def test_first_run_inserts_all(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 8), make_page(3, 5, 8)])
    m = p.run()
    assert m.status == "success"
    assert m.jobs_extracted == 8
    assert (m.inserted, m.updated) == (8, 0)
    assert p.current_table().count() == 8


def test_second_run_updates_in_place(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 8), make_page(3, 5, 8)])
    p.run()
    before = {r["position_uri"]: r for r in p.current_table().collect()}
    # URIs 0-4 again with changed titles -> all updates, count stable;
    # URIs 5-7 untouched
    p2 = _pipeline(spark, tmp_path, [_retitled(5, " II")])
    m2 = p2.run()
    assert (m2.inserted, m2.updated) == (0, 5)
    tbl = p2.current_table()
    assert tbl.count() == 8
    assert tbl.filter(F.col("position_title").endswith(" II")).count() == 5
    after = {r["position_uri"]: r for r in tbl.collect()}
    assert after.keys() == before.keys()
    for uri, r in after.items():
        old = before[uri]
        assert r["created_at"] == old["created_at"]  # created_at preserved on update
        if r["position_title"].endswith(" II"):
            assert r["updated_at"] > old["updated_at"]  # restamped by the run that wrote it
        else:
            assert r["updated_at"] == old["updated_at"]  # untouched keys keep both


def test_api_calls_count_pages_that_got_a_response(spark, tmp_path):
    """Two full pages, one that fails every retry (skipped, not counted),
    then the partial page that ends the scan."""
    pages = [make_page(5, 0, 100), make_page(5, 5, 100), None, make_page(2, 15, 100)]
    serve = paged_transport(pages)

    def transport(params):
        if pages[params["Page"] - 1] is None:
            raise ConnectionError("page 3 is down")
        return serve(params)

    p = _pipeline(spark, tmp_path, [])
    p.source.transport = transport
    m = p.run()
    assert (m.status, m.jobs_extracted) == ("success", 12)
    assert m.api_calls == 3


def test_in_batch_dup_first_wins(spark, tmp_path):
    page = make_page(2, 0, 2)
    items = page["SearchResult"]["SearchResultItems"]
    items[1]["MatchedObjectDescriptor"]["PositionURI"] = items[0]["MatchedObjectDescriptor"]["PositionURI"]
    items[1]["MatchedObjectDescriptor"]["PositionTitle"] = "Shadowed Duplicate"
    p = _pipeline(spark, tmp_path, [page])
    m = p.run()
    assert m.jobs_extracted == 1
    row = p.current_table().first()
    assert row["position_title"] == "Data Engineer 0"  # first occurrence won


def test_statistics_readback(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(4, 0, 4)])
    p.run()
    stats = p.statistics()
    assert stats["total_jobs"] == 4
    assert stats["unique_organizations"] == 4  # Department 0..3
    assert stats["jobs_today"] == 4


def test_reader_built_before_a_run_keeps_the_old_version(spark, tmp_path):
    """A frame from ``current_table()`` built before a run still returns
    exactly the old version's rows after that run commits: versions are
    immutable, and the store keeps more than one."""
    _pipeline(spark, tmp_path, [make_page(4, 0, 4)]).run()
    p = _pipeline(spark, tmp_path, [_retitled(5, " II")])
    reader = p.current_table().select("position_uri", "position_title")
    assert p.run().status == "success"
    old = {r[0]: r[1] for r in reader.collect()}
    assert old == {f"https://www.usajobs.gov/job/{i}": f"Data Engineer {i}" for i in range(4)}
    assert sorted(_titles(p).values()) == [f"Data Engineer {i} II" for i in range(5)]


def test_failed_run_logged_not_raised(spark, tmp_path):
    calls = []

    def rate_limited(params):
        calls.append(params)
        raise RateLimitedError("429")

    p = _pipeline(spark, tmp_path, [])
    p.source.transport = rate_limited
    m = p.run()
    assert len(calls) == 1  # a 429 aborts the scan: no retry, no next page
    assert m.status == "success"  # rate-limit abort yields empty scan, not failure
    assert m.jobs_extracted == 0


# -- fault injection: a table version is visible only after it commits ----


def _version_dir(tmp_path, ahead_ms: int) -> str:
    """A ``v=`` directory name newer than anything written so far."""
    return str(tmp_path / "tbl" / f"v={int(time.time() * 1000) + ahead_ms}")


def test_empty_version_dir_is_not_the_table(spark, tmp_path):
    """A crashed write that left an empty version directory must not
    break later runs (it used to fail them with UNABLE_TO_INFER_SCHEMA)."""
    _pipeline(spark, tmp_path, [make_page(4, 0, 4)]).run()
    os.makedirs(_version_dir(tmp_path, 60_000))
    p = _pipeline(spark, tmp_path, [_retitled(4, " II")])
    m = p.run()
    assert m.status == "success", m.errors
    assert (m.inserted, m.updated) == (0, 4)
    assert sorted(_titles(p).values()) == [f"Data Engineer {i} II" for i in range(4)]


def test_uncommitted_version_is_not_the_base(spark, tmp_path):
    """A version holding part of the rows but no ``_SUCCESS`` is neither
    read nor merged into: the next run keeps every committed row, and
    the crashed directory is pruned once a newer version commits."""
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 5)])
    p.run()
    partial = _version_dir(tmp_path, 60_000)
    p.current_table().limit(2).write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))
    p2 = _pipeline(spark, tmp_path, [make_page(2, 5, 2)])
    m = p2.run()
    assert (m.status, m.inserted, m.updated) == ("success", 2, 0)
    assert sorted(_titles(p2)) == sorted(f"https://www.usajobs.gov/job/{i}" for i in range(7))
    assert not os.path.exists(partial)


def test_clock_step_back_keeps_new_version_current(spark, tmp_path, monkeypatch):
    _pipeline(spark, tmp_path, [make_page(3, 0, 3)]).run()
    real_time = time.time
    monkeypatch.setattr(time, "time", lambda: real_time() - 3600)
    p = _pipeline(spark, tmp_path, [_retitled(3, " II")])
    assert p.run().status == "success"
    assert sorted(_titles(p).values()) == [f"Data Engineer {i} II" for i in range(3)]


def test_failed_write_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    p = _pipeline(spark, tmp_path, [make_page(3, 0, 3)])
    p.run()
    before = _titles(p)
    monkeypatch.setattr(pipeline_mod, "merge_upsert", _merge_failing_on_write)
    p2 = _pipeline(spark, tmp_path, [_retitled(3, " II")])
    m = p2.run()
    assert m.status == "failed"
    assert _titles(p2) == before


# -- the table layout: plain parquet, read with its declared schema -----


def _bloom_columns(spark, version_dir: str) -> set[str]:
    """Columns that carry a parquet bloom filter in any file of a version."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    cols = set()
    for root, _, files in os.walk(version_dir):
        for name in files:
            if name.startswith("part-"):
                footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                    conf, jvm.org.apache.hadoop.fs.Path(os.path.join(root, name))
                )
                for block in footer.getBlocks():
                    cols |= {c.getPath().toDotString() for c in block.getColumns() if c.getBloomFilterOffset() >= 0}
    return cols


def test_legacy_partitioned_version_reads_back_then_is_rewritten_plain(spark, tmp_path):
    """A version in the old layout (date-partitioned, bloom filter on the
    key) is read with the declared columns, and the next run writes a
    plain version that keeps every key and every preserved created_at."""
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 5)])
    p.run()
    plain = snapshot.latest_committed(spark, p.config.table_path)
    legacy = _version_dir(tmp_path, 60_000)
    (
        p.current_table()
        .withColumn("extracted_at", F.expr("extracted_at - make_interval(0, 0, 0, int(right(position_uri, 1)))"))
        .withColumn("ingest_date", F.to_date("extracted_at"))
        .write.partitionBy("ingest_date")
        .option("parquet.bloom.filter.enabled#position_uri", "true")
        .parquet(legacy)
    )
    shutil.rmtree(plain)
    assert len([d for d in os.listdir(legacy) if d.startswith("ingest_date=")]) == 5
    assert _bloom_columns(spark, legacy) == {"position_uri"}

    tbl = p.current_table()
    assert [(f.name, f.dataType) for f in tbl.schema] == [(f.name, f.dataType) for f in JOB_POSTING_SCHEMA]
    created = dict(tbl.select("position_uri", "created_at").collect())
    assert len(created) == 5

    p2 = _pipeline(spark, tmp_path, [_retitled(3, " II")])
    m = p2.run()
    assert (m.status, m.inserted, m.updated) == ("success", 0, 3), m.errors
    newest = snapshot.latest_committed(spark, p2.config.table_path)
    assert newest != legacy
    entries = [e for e in os.scandir(newest) if not e.name.startswith(".")]
    assert not any(e.is_dir() for e in entries)
    assert all(e.name.startswith("part-") or e.name == "_SUCCESS" for e in entries)
    assert _bloom_columns(spark, newest) == set()
    rows = p2.current_table().select("position_uri", "position_title", "created_at").collect()
    assert {r[0]: r[2] for r in rows} == created
    assert sorted(r[1] for r in rows if r[1].endswith(" II")) == [f"Data Engineer {i} II" for i in range(3)]


def test_current_table_starts_no_spark_job(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(3, 0, 3)])
    assert p.run().status == "success"
    sc = spark.sparkContext
    group = "open_current_table"
    sc.setJobGroup(group, "opening the table must run no job")
    try:
        tbl = p.current_table()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert tbl.count() == 3
        assert sc.statusTracker().getJobIdsForGroup(group) != []  # the group does see jobs
    finally:
        sc.setJobGroup("", "")


# -- reruns, spool cleanup and the run log --------------------------------


def test_rerun_of_same_pages_is_idempotent(spark, tmp_path):
    pages = [make_page(5, 0, 8), make_page(3, 5, 8)]

    def rows(p):
        return sorted(p.current_table().select("position_uri", "position_title", "created_at").collect())

    first = _pipeline(spark, tmp_path, pages)
    first.run()
    before = rows(first)
    again = _pipeline(spark, tmp_path, pages)
    m = again.run()
    assert (m.status, m.jobs_extracted) == ("success", 8)
    assert (m.inserted, m.updated) == (0, m.jobs_extracted)
    assert rows(again) == before


def test_run_deletes_its_spool(spark, tmp_path, monkeypatch):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))

    def spools():
        return [d for d in os.listdir(tmpdir) if d.startswith("rest_spool_")]

    assert _pipeline(spark, tmp_path, [make_page(3, 0, 3)]).run().status == "success"
    assert spools() == []
    monkeypatch.setattr(pipeline_mod, "merge_upsert", _merge_failing_on_write)
    assert _pipeline(spark, tmp_path, [_retitled(3, " II")]).run().status == "failed"
    assert spools() == []


def _spark_run_log_row(spark, log_dir: str, jobs: int) -> None:
    """A run-log row written by a one-row Spark parquet append, the form
    of every log file written before the driver-side writer."""
    spark.createDataFrame([(jobs, "success", None)], "jobs_processed int, status string, error_message string").select(
        F.current_timestamp().alias("last_run_at"),
        "jobs_processed",
        "status",
        "error_message",
        F.current_timestamp().alias("created_at"),
    ).write.mode("append").parquet(log_dir)


def test_run_log_reads_back_across_writers(spark, tmp_path, monkeypatch):
    log_dir = str(tmp_path / "tbl" / "_etl_metadata")
    _spark_run_log_row(spark, log_dir, 7)
    assert _pipeline(spark, tmp_path, [make_page(3, 0, 3)]).run().status == "success"
    monkeypatch.setattr(pipeline_mod, "merge_upsert", _merge_failing_on_write)
    failed = _pipeline(spark, tmp_path, [_retitled(3, " II")]).run()
    assert failed.status == "failed"
    # a crash between write and rename leaves only the temporary name
    with open(os.path.join(log_dir, "_run-0-torn.parquet.tmp"), "wb") as f:
        f.write(b"PAR1")

    inferred = spark.read.parquet(log_dir).schema
    assert [(f.name, f.dataType) for f in inferred] == [(f.name, f.dataType) for f in ETL_METADATA_SCHEMA]
    rows = sorted(spark.read.schema(ETL_METADATA_SCHEMA).parquet(log_dir).collect(), key=lambda r: r["created_at"])
    assert [(r["jobs_processed"], r["status"]) for r in rows] == [(7, "success"), (3, "success"), (0, "failed")]
    assert [r["error_message"] for r in rows] == [None, None, "; ".join(failed.errors)]
    assert all(r["last_run_at"] == r["created_at"] for r in rows)
