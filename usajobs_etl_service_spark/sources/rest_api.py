"""S1-S3 — the resilient paginated REST source (SURVEY.md §2.1;
reference ``etl/etl.py:131-222, 617-659``).

Design: the fetch loop runs driver-side (the API is a single rate-limited
endpoint — parallel fetch from 1000 executors is exactly what a polite
client must not do), but pages are **spooled to storage as they arrive**
and the DataFrame is produced by a distributed read of the spool — the
reference's accumulate-everything-in-a-Python-list anti-pattern
(etl.py:614-632) is deliberately not reproduced; driver memory stays
O(1 page).

Policies (reference parity):
- retry: 3 attempts, exponential backoff ×2 from 1 s (etl.py:63-93)
- circuit breaker: CLOSED/OPEN/HALF_OPEN, threshold 5, recovery 60 s
  (etl.py:131-161)
- rate limit: ``delay_seconds`` between pages, 1.5 s live (etl.py:180, 211)
- page clamp 500 (etl.py:193); predicate pushdown into query params
  (S2: Keyword/LocationName/Page/ResultsPerPage, etl.py:191-199)
- termination: empty page, partial page, or count >= count_all
  (S3, etl.py:626-645); per-page error tolerance — skip the page and
  continue unless rate-limited (etl.py:649-659)

The transport is injectable (any ``params -> dict`` callable), so tests
run against an in-process fake; the real HTTP transport is built lazily
and only if ``requests`` is importable.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Generator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from usajobs_etl_service_spark.sources.ingest import flatten_postings, parse_api_pages

PAGE_SIZE_CAP = 500


class RateLimitedError(Exception):
    """Raised by transports on HTTP 429 — aborts the scan (reference
    etl.py:652-655 breaks the page loop on rate-limit errors)."""


class CircuitOpenError(Exception):
    pass


@dataclass
class RetryPolicy:
    """Exponential-backoff retry (reference etl.py:63-93)."""

    max_attempts: int = 3
    backoff_base: float = 1.0
    backoff_mult: float = 2.0
    sleep: Callable[[float], None] = time.sleep

    def call(self, fn: Callable[[], dict]) -> dict:
        delay = self.backoff_base
        last: Exception | None = None
        for attempt in range(self.max_attempts):
            try:
                return fn()
            except RateLimitedError:
                raise
            except Exception as e:  # noqa: BLE001 — policy mirrors reference's broad except
                last = e
                if attempt < self.max_attempts - 1:
                    self.sleep(delay)
                    delay *= self.backoff_mult
        raise last  # type: ignore[misc]


@dataclass
class CircuitBreaker:
    """CLOSED -> OPEN after ``threshold`` consecutive failures; HALF_OPEN
    probe after ``recovery_seconds`` (reference etl.py:131-161)."""

    threshold: int = 5
    recovery_seconds: float = 60.0
    clock: Callable[[], float] = time.monotonic
    state: str = "CLOSED"
    failures: int = 0
    opened_at: float = field(default=0.0)

    def call(self, fn: Callable[[], dict]) -> dict:
        if self.state == "OPEN":
            if self.clock() - self.opened_at >= self.recovery_seconds:
                self.state = "HALF_OPEN"
            else:
                raise CircuitOpenError("circuit breaker is OPEN")
        try:
            result = fn()
        except Exception:
            self.failures += 1
            if self.failures >= self.threshold:
                self.state = "OPEN"
                self.opened_at = self.clock()
            raise
        else:
            self.failures = 0
            self.state = "CLOSED"
            return result


@dataclass
class RestPageSource:
    """Paginated search scan with pushdown options (S1-S3)."""

    transport: Callable[[dict], dict]
    page_size: int = PAGE_SIZE_CAP
    max_pages: int = 20
    delay_seconds: float = 0.0
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    breaker: CircuitBreaker = field(default_factory=CircuitBreaker)
    sleep: Callable[[float], None] = time.sleep

    def _params(self, keyword: str, location: str | None, page: int) -> dict:
        # S2: predicate pushdown into query params (reference etl.py:191-199)
        params = {
            "Keyword": keyword,
            "ResultsPerPage": min(self.page_size, PAGE_SIZE_CAP),
            "Page": page,
            "WhoMayApply": "All",
        }
        if location:
            params["LocationName"] = location
        return params

    def fetch_pages(self, keyword: str, location: str | None = None) -> Generator[tuple[int, dict], None, int]:
        """Yield (page_number, payload) until exhaustion (S3); return how many
        requests got a response (a page skipped after its retries did not)."""
        per_page = min(self.page_size, PAGE_SIZE_CAP)
        responses = 0
        for page in range(1, self.max_pages + 1):
            if page > 1 and self.delay_seconds:
                self.sleep(self.delay_seconds)  # rate limit (etl.py:211)
            params = self._params(keyword, location, page)
            try:
                payload = self.retry.call(lambda: self.breaker.call(lambda: self.transport(params)))
            except RateLimitedError:
                break  # stop the scan entirely (etl.py:652-655)
            except Exception:
                continue  # per-page tolerance: skip this page (etl.py:649-659)
            responses += 1
            sr = payload.get("SearchResult", {}) if isinstance(payload, dict) else {}
            items = sr.get("SearchResultItems") or []
            if not items:
                break  # empty page
            yield page, payload
            count = sr.get("SearchResultCount") or len(items)
            count_all = sr.get("SearchResultCountAll")
            if count < per_page:
                break  # partial page
            if count_all is not None and page * per_page >= count_all:
                break  # exhausted
        return responses


def spool_pages_to_json(
    source: RestPageSource,
    spool_dir: str,
    keyword: str,
    location: str | None = None,
) -> tuple[int, int]:
    """Stream pages to one JSON file each under ``spool_dir`` (driver
    memory stays O(1 page)); returns (pages_written, api_calls)."""
    os.makedirs(spool_dir, exist_ok=True)
    pages = 0
    run_id = uuid.uuid4().hex[:8]
    scan = source.fetch_pages(keyword, location)
    while True:
        try:
            page, payload = next(scan)
        except StopIteration as done:
            return pages, done.value
        with open(os.path.join(spool_dir, f"page-{run_id}-{page:05d}.json"), "w") as f:
            json.dump({"page": page, "payload": json.dumps(payload)}, f)
        pages += 1


def read_spool(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Distributed read of the spool -> flattened canonical postings (none if empty)."""
    raw = spark.read.schema("page long, payload string").json(spool_dir)
    return flatten_postings(parse_api_pages(raw))


def scan_to_dataframe(
    spark: SparkSession,
    source: RestPageSource,
    keyword: str,
    location: str | None = None,
    *,
    spool_dir: str,
) -> tuple[DataFrame, int]:
    """S1-S4 end-to-end: paginated scan -> spool -> distributed flatten;
    returns (postings, api_calls). Pages go through ``spool_dir`` (never
    a whole-run Python list), which the caller owns and deletes once the
    postings are no longer read."""
    _, api_calls = spool_pages_to_json(source, spool_dir, keyword, location)
    return read_spool(spark, spool_dir), api_calls


def http_transport(base_url: str, headers: dict[str, str], timeout_seconds: float = 30.0):
    """Real HTTP transport (requests is optional in this environment)."""
    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("requests not available; inject a custom transport") from e

    session = requests.Session()  # connection reuse (reference etl.py:170-177)
    session.headers.update(headers)

    def fetch(params: dict) -> dict:  # pragma: no cover — needs live API
        resp = session.get(base_url, params=params, timeout=timeout_seconds)
        if resp.status_code == 429:
            raise RateLimitedError(resp.text[:200])
        resp.raise_for_status()
        return resp.json()

    return fetch
