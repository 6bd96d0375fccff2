"""S1/S3 as a native PySpark DataSource (Python Data Source API,
Spark 4): ``spark.read.format("usajobs_rest")`` with page-partition
planning.

Two source flavors ship for the same API surface:

- ``sources/rest_api.py`` — driver-side spool scan: the RIGHT shape for
  a rate-limited live API (one polite client, retry/breaker policies,
  O(1-page) driver memory). The pipeline's ingest source, and the only
  one that talks to the live API.
- this module — a DataSourceV2-style reader where EACH PAGE IS AN INPUT
  PARTITION, generated executor-side in parallel: scan width scales
  with the cluster, and Catalyst sees a real source with partition
  planning (S3). Pages are deterministic synthetic ones (seeded by
  page number), so the distributed path runs with no network (q46).

Options: ``mock_total`` (the result count the synthetic API reports,
default 1200), ``results_per_page`` (clamped to 500) and ``max_pages``
(default 20). Partition planning (S3) plans
``ceil(mock_total/per_page)`` page partitions, capped by ``max_pages``
— the early-exit limit lives in the planner, not the executors.

Each partition yields ONE (page, json) row (q46's contract); the
flatten runs in Spark (``read_rest_jobs``). Arrow batching does not pay
at 1 row/page (SCALE.md §Python DataSource).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

PAGE_SIZE_CAP = 500

RAW_SCHEMA = "page int, payload string"


def _mock_page(page: int, per_page: int, total: int) -> dict:
    """Deterministic synthetic page (same recipe as the perf-suite
    generators in FIXTURES.md §2): titles/orgs cycle, URIs unique."""
    start = (page - 1) * per_page
    n = max(0, min(per_page, total - start))
    items = [
        {
            "MatchedObjectDescriptor": {
                "PositionTitle": f"Data Engineer {start + i}",
                "PositionURI": f"https://www.usajobs.gov/job/42-{start + i}",
                "OrganizationName": f"Department {(start + i) % 10}",
                "PositionLocation": [
                    {"CityName": f"City {(start + i) % 10}", "StateCode": f"S{(start + i) % 5}", "CountryCode": "US"}
                ],
                "PositionRemuneration": [
                    {"MinimumRange": str(80000 + (start + i) * 100), "RateIntervalCode": "Per Year"}
                ],
            }
        }
        for i in range(n)
    ]
    return {
        "SearchResult": {
            "SearchResultCount": len(items),
            "SearchResultCountAll": total,
            "SearchResultItems": items,
        }
    }


class PagePartition(InputPartition):
    def __init__(self, page: int):
        self.page = page


class RestJobsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.per_page = min(int(options.get("results_per_page", PAGE_SIZE_CAP)), PAGE_SIZE_CAP)
        self.max_pages = int(options.get("max_pages", 20))
        self.total = int(options.get("mock_total", 1200))

    # -- S3: partition planning --------------------------------------------
    def partitions(self):
        n_pages = max((self.total + self.per_page - 1) // self.per_page, 0)
        n_pages = min(n_pages, self.max_pages)
        return [PagePartition(p) for p in range(1, n_pages + 1)]

    # -- S1: per-partition page generation ---------------------------------
    def read(self, partition: PagePartition) -> Iterator:
        page = _mock_page(partition.page, self.per_page, self.total)
        yield (partition.page, json.dumps(page))


class RestJobsDataSource(DataSource):
    """``spark.read.format("usajobs_rest")`` — register with
    ``register_rest_datasource(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "usajobs_rest"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> RestJobsReader:
        return RestJobsReader(self.options)


def register_rest_datasource(spark) -> None:
    spark.dataSource.register(RestJobsDataSource)


def read_rest_jobs(spark, **options):
    """Convenience: registered read -> flattened canonical postings."""
    from usajobs_etl_service_spark.sources.ingest import flatten_postings, parse_api_pages

    register_rest_datasource(spark)
    reader = spark.read.format("usajobs_rest")
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.load()
    return flatten_postings(parse_api_pages(raw))
