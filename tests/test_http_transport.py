"""Live-socket integration for the REAL ``http_transport`` (requests):
a loopback ``http.server`` plays the paginated search API, so param
encoding, header injection, connection handling, 429 -> RateLimitedError
and raise_for_status -> retry are exercised end-to-end over TCP — the
seam every other REST test drives through an in-process fake
(reference tests/test_integration.py's live-API analog, minus the
network). Closes the round-6 'requests absent' environment gap."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from usajobs_etl_service_spark.sources.rest_api import (
    RateLimitedError,
    RestPageSource,
    RetryPolicy,
    http_transport,
    scan_to_dataframe,
)

requests = pytest.importorskip("requests")


def _page(n_items: int, start: int, count_all: int) -> dict:
    return {
        "SearchResult": {
            "SearchResultCount": n_items,
            "SearchResultCountAll": count_all,
            "SearchResultItems": [
                {
                    "MatchedObjectDescriptor": {
                        "PositionTitle": f"Data Engineer {start + i}",
                        "PositionURI": f"https://jobs.example/{start + i}",
                        "OrganizationName": f"Department {(start + i) % 10}",
                    }
                }
                for i in range(n_items)
            ],
        }
    }


class _Handler(BaseHTTPRequestHandler):
    server_version = "FakeSearchAPI/1.0"
    seen: list[dict] = []
    flaky_failures_left = 0

    def log_message(self, *a):  # keep pytest output clean
        pass

    def do_GET(self):
        q = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
        type(self).seen.append({"params": q, "headers": dict(self.headers)})
        keyword = q.get("Keyword", "")
        if keyword == "ratelimited":
            self.send_response(429)
            self.end_headers()
            self.wfile.write(b"slow down")
            return
        if keyword == "flaky" and type(self).flaky_failures_left > 0:
            type(self).flaky_failures_left -= 1
            self.send_response(500)
            self.end_headers()
            return
        per = int(q.get("ResultsPerPage", "500"))
        page = int(q.get("Page", "1"))
        count_all = 5
        start = (page - 1) * per
        n = max(0, min(per, count_all - start))
        body = json.dumps(_page(n, start, count_all)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def api_server():
    _Handler.seen = []
    _Handler.flaky_failures_left = 0
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/api/search"
    finally:
        srv.shutdown()
        srv.server_close()


def _no_sleep(_):
    pass


def _source(url: str, **kw) -> RestPageSource:
    transport = http_transport(url, headers={"Authorization-Key": "test-key-123"})
    kw.setdefault("retry", RetryPolicy(sleep=_no_sleep))
    kw.setdefault("sleep", _no_sleep)
    return RestPageSource(transport=transport, **kw)


def test_paginates_over_real_sockets_and_sends_pushdown_params(api_server):
    src = _source(api_server, page_size=3)
    pages = list(src.fetch_pages("data engineer", "Chicago, IL"))
    # count_all=5 at 3/page: full page then partial page, then stop
    assert [p for p, _ in pages] == [1, 2]
    items = [
        it["MatchedObjectDescriptor"]["PositionTitle"]
        for _, payload in pages
        for it in payload["SearchResult"]["SearchResultItems"]
    ]
    assert items == [f"Data Engineer {i}" for i in range(5)]
    first = _Handler.seen[0]
    assert first["params"]["Keyword"] == "data engineer"
    assert first["params"]["LocationName"] == "Chicago, IL"
    assert first["params"]["ResultsPerPage"] == "3"
    assert first["params"]["WhoMayApply"] == "All"
    # session headers reach the wire on every request
    assert all(s["headers"].get("Authorization-Key") == "test-key-123" for s in _Handler.seen)


def test_http_429_aborts_scan_as_rate_limited(api_server):
    transport = http_transport(api_server, headers={})
    with pytest.raises(RateLimitedError):
        transport({"Keyword": "ratelimited", "Page": 1})
    # and through the source: the scan stops cleanly with no pages
    src = _source(api_server)
    assert list(src.fetch_pages("ratelimited")) == []


def test_http_500_is_retried_through_real_raise_for_status(api_server):
    _Handler.flaky_failures_left = 2  # default RetryPolicy allows 3 attempts
    src = _source(api_server, page_size=5)
    pages = list(src.fetch_pages("flaky"))
    assert [p for p, _ in pages] == [1]
    # 2 failed + 1 successful attempt reached the server for page 1
    assert len([s for s in _Handler.seen if s["params"].get("Keyword") == "flaky"]) == 3


def test_scan_to_dataframe_end_to_end_over_loopback(spark, api_server, tmp_path):
    src = _source(api_server, page_size=3)
    df, api_calls = scan_to_dataframe(spark, src, "data engineer", spool_dir=str(tmp_path / "spool"))
    assert api_calls == 2
    rows = df.collect()
    assert len(rows) == 5
    assert {r["position_title"] for r in rows} == {f"Data Engineer {i}" for i in range(5)}
