"""S1-S3 REST source: pagination/termination, retry, circuit breaker,
rate-limit abort — mock transport, no network (mirrors reference
tests/test_unit.py:82-115, 248-285 and pagination integration tests)."""

from __future__ import annotations

import pytest

from usajobs_etl_service_spark.sources.rest_api import (
    CircuitBreaker,
    CircuitOpenError,
    RateLimitedError,
    RestPageSource,
    RetryPolicy,
    scan_to_dataframe,
    spool_pages_to_json,
)


def make_page(n_items: int, start: int = 0, count_all: int | None = None):
    return {
        "SearchResult": {
            "SearchResultCount": n_items,
            "SearchResultCountAll": count_all if count_all is not None else n_items,
            "SearchResultItems": [
                {
                    "MatchedObjectDescriptor": {
                        "PositionTitle": f"Data Engineer {start + i}",
                        "PositionURI": f"https://www.usajobs.gov/job/{start + i}",
                        "OrganizationName": f"Department {(start + i) % 10}",
                    }
                }
                for i in range(n_items)
            ],
        }
    }


def paged_transport(pages: list[dict]):
    calls = []

    def fetch(params):
        calls.append(dict(params))
        page = params["Page"]
        if page <= len(pages):
            return pages[page - 1]
        return make_page(0)

    fetch.calls = calls
    return fetch


def no_sleep(_):
    pass


def _source(transport, **kw):
    kw.setdefault("retry", RetryPolicy(sleep=no_sleep))
    kw.setdefault("sleep", no_sleep)
    return RestPageSource(transport=transport, **kw)


class TestPagination:
    def test_stops_on_partial_page(self):
        t = paged_transport([make_page(500, 0, 600), make_page(100, 500, 600)])
        src = _source(t, page_size=500)
        pages = list(src.fetch_pages("data"))
        assert [p for p, _ in pages] == [1, 2]
        assert len(t.calls) == 2  # no third call after partial page

    def test_stops_on_empty_first_page(self):
        src = _source(paged_transport([]))
        assert list(src.fetch_pages("data")) == []

    def test_stops_on_count_all_exhausted(self):
        t = paged_transport([make_page(500, 0, 500)])
        src = _source(t, page_size=500)
        assert len(list(src.fetch_pages("data"))) == 1
        assert len(t.calls) == 1

    def test_max_pages_cap(self):
        t = paged_transport([make_page(500, i * 500, 10**6) for i in range(10)])
        src = _source(t, max_pages=3)
        assert len(list(src.fetch_pages("data"))) == 3

    def test_page_size_clamped_to_500(self):
        t = paged_transport([make_page(500, 0, 500)])
        src = _source(t, page_size=9999)
        list(src.fetch_pages("data"))
        assert t.calls[0]["ResultsPerPage"] == 500

    def test_spool_counts_every_response(self, tmp_path):
        src = _source(paged_transport([make_page(5, 0, 100), make_page(5, 5, 100)]), page_size=5)
        assert spool_pages_to_json(src, str(tmp_path), "data") == (2, 3)  # the empty page 3 ends the scan

    def test_pushdown_params(self):
        t = paged_transport([make_page(1)])
        src = _source(t)
        list(src.fetch_pages("python", location="Remote"))
        assert t.calls[0]["Keyword"] == "python"
        assert t.calls[0]["LocationName"] == "Remote"
        assert t.calls[0]["WhoMayApply"] == "All"


class TestResilience:
    def test_retry_then_success(self):
        attempts = []

        def flaky(params):
            attempts.append(1)
            if len(attempts) < 3:
                raise ConnectionError("boom")
            return make_page(1)

        src = _source(flaky)
        assert len(list(src.fetch_pages("data"))) == 1
        assert len(attempts) == 3

    def test_page_skipped_after_retries_exhausted(self):
        def always_fail_page1(params):
            if params["Page"] == 1:
                raise ConnectionError("boom")
            return make_page(1) if params["Page"] == 2 else make_page(0)

        src = _source(always_fail_page1, max_pages=3)
        pages = [p for p, _ in src.fetch_pages("data")]
        assert pages == [2]  # page 1 skipped, scan continued

    def test_rate_limit_aborts_scan(self):
        def rl(params):
            if params["Page"] == 2:
                raise RateLimitedError("429")
            return make_page(500, 0, 10**6)

        src = _source(rl, max_pages=5)
        assert [p for p, _ in src.fetch_pages("data")] == [1]

    def test_circuit_breaker_opens_and_recovers(self):
        clock = {"t": 0.0}
        br = CircuitBreaker(threshold=2, recovery_seconds=60, clock=lambda: clock["t"])

        def fail():
            raise ConnectionError("x")

        for _ in range(2):
            with pytest.raises(ConnectionError):
                br.call(fail)
        assert br.state == "OPEN"
        with pytest.raises(CircuitOpenError):
            br.call(lambda: {})
        clock["t"] = 61.0
        assert br.call(lambda: {"ok": 1}) == {"ok": 1}  # HALF_OPEN probe succeeds
        assert br.state == "CLOSED"


class TestScanToDataFrame:
    def test_end_to_end(self, spark, tmp_path):
        t = paged_transport([make_page(5, 0, 8), make_page(3, 5, 8)])
        src = _source(t, page_size=5)
        df, api_calls = scan_to_dataframe(spark, src, "data", spool_dir=str(tmp_path / "spool"))
        assert api_calls == 2
        rows = df.collect()
        assert len(rows) == 8
        uris = {r["position_uri"] for r in rows}
        assert "https://www.usajobs.gov/job/7" in uris
        # ingest_seq encodes (page, position) for first-wins determinism
        seqs = sorted(r["ingest_seq"] for r in rows)
        assert seqs == [500, 501, 502, 503, 504, 1000, 1001, 1002]

    def test_empty_scan(self, spark, tmp_path):
        src = _source(paged_transport([]))
        df, api_calls = scan_to_dataframe(spark, src, "data", spool_dir=str(tmp_path / "spool"))
        assert (df.count(), api_calls) == (0, 1)
        assert "ingest_seq" in df.columns  # the columns dedup needs, as on a non-empty scan



def test_q37_calls_leave_one_spool_dir(spark, sf_dir, tmp_path, monkeypatch):
    """q37 spools into one per-process directory, cleared on each call:
    repeated calls leave one spool dir, not one per call."""
    import os
    import tempfile

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q37 = entry.queries()["q37_rest_scan_pipeline"]
    for _ in range(3):
        assert len(q37(spark, sf_dir).collect()) == 3
    assert [n for n in os.listdir(tmp_path) if "spool" in n] == [f"q37_spool_{os.getpid()}"]
