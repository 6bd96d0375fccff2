"""E1 — the one-command pipeline entry point.

Reference parity: ``main()`` (etl/etl.py:695-714) runs one ETL cycle and
exits 0/1; the deployed scheduler (infrastructure/main.tf:337-384)
invokes that same command daily. Here:

    python -m usajobs_etl_service_spark                  # one run, demo source
    python -m usajobs_etl_service_spark --base-url URL   # real HTTP source
    python -m usajobs_etl_service_spark --interval-seconds 86400  # schedule loop

Configuration follows the reference's env contract (SEARCH_KEYWORD,
SEARCH_LOCATION, MAX_PAGES, JOB_TABLE_PATH — .env.example) with CLI
flags taking precedence. Prints one JSON metrics line per run; exit
code 0 iff every run succeeded.

The HTTP transport needs ``requests`` (optional in this environment);
without ``--base-url`` a deterministic in-process demo source runs the
identical scan -> spool -> flatten -> dedup -> merge path, so the full
pipeline is exercisable (and testable) with no network or credentials.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time


def demo_transport(total_jobs: int = 25, page_size: int = 10):
    """Deterministic fake of the paginated search API: ``total_jobs``
    synthetic postings served in pages, exercising pagination/exhaustion
    (S3), flatten (S4), validation (P2), and keyed merge (J1)."""

    def fetch(params: dict) -> dict:
        page = int(params.get("Page", 1))
        per = int(params.get("ResultsPerPage", page_size))
        start, stop = (page - 1) * per, min(page * per, total_jobs)
        items = [
            {
                "MatchedObjectDescriptor": {
                    "PositionTitle": f"Data Engineer {i}",
                    "PositionURI": f"https://jobs.example/demo/{i}",
                    "PositionLocation": [{"LocationName": f"City {i % 5}, ST", "CountryCode": "US"}],
                    "PositionRemuneration": [
                        {"MinimumRange": "80000", "MaximumRange": "120000", "RateIntervalCode": "Per Year"}
                    ],
                    "PositionStartDate": "2024-01-01T00:00:00.0000000",
                    "OrganizationName": f"Agency {i % 3}",
                    "DepartmentName": "Department of Examples",
                    "JobCategory": [{"Name": "Information Technology"}],
                    "JobGrade": [{"Code": "GS-13"}],
                }
            }
            for i in range(start, stop)
        ]
        return {
            "SearchResult": {
                "SearchResultCount": len(items),
                "SearchResultCountAll": total_jobs,
                "SearchResultItems": items,
            }
        }

    return fetch


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m usajobs_etl_service_spark",
        description="Run the scan -> flatten -> dedup -> merge -> stats pipeline once (or on an interval).",
        epilog=(
            "Without --base-url this runs against a deterministic in-process "
            "DEMO source serving --demo-jobs synthetic postings (default 25): "
            "no network I/O, no real API data — output is for exercising the "
            "pipeline only. Pass --base-url (plus USAJOBS_API_KEY and "
            "USAJOBS_USER_AGENT in the environment) for a live run."
        ),
    )
    p.add_argument("--keyword", default=None, help="search keyword (env SEARCH_KEYWORD)")
    p.add_argument("--location", default=None, help="search location (env SEARCH_LOCATION)")
    p.add_argument(
        "--max-pages",
        type=int,
        default=int(os.environ.get("MAX_PAGES", "20")),
        help="page cap for the scan (env MAX_PAGES, default 20)",
    )
    p.add_argument("--table-path", default=None, help="job table root (env JOB_TABLE_PATH)")
    p.add_argument("--base-url", default=os.environ.get("USAJOBS_BASE_URL"), help="real API base URL (needs requests)")
    p.add_argument("--demo-jobs", type=int, default=25, help="synthetic postings served by the demo source")
    p.add_argument("--interval-seconds", type=float, default=None, help="re-run on this interval (schedule analog)")
    p.add_argument(
        "--runs",
        type=int,
        default=None,
        help="number of runs (0 = forever); defaults to 1 without --interval-seconds, forever with it",
    )
    p.add_argument(
        "--master",
        default=os.environ.get("SPARK_MASTER"),
        help="Spark master (env SPARK_MASTER, default local[$SPARK_GRAFT_CPUS])",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
    from usajobs_etl_service_spark.session import get_spark
    from usajobs_etl_service_spark.sources.rest_api import RestPageSource, http_transport

    spark = get_spark("usajobs-etl", master=args.master)

    cfg = PipelineConfig()
    if args.keyword is not None:
        cfg.keyword = args.keyword
    if args.location is not None:
        cfg.location = args.location
    if args.table_path is not None:
        cfg.table_path = args.table_path

    if args.base_url:
        headers = {
            "Authorization-Key": os.environ.get("USAJOBS_API_KEY", ""),
            "User-Agent": os.environ.get("USAJOBS_USER_AGENT", ""),
        }
        transport, delay = http_transport(args.base_url, headers), 1.5  # reference API_DELAY (etl.py:180)
    else:
        transport, delay = demo_transport(total_jobs=args.demo_jobs), 0.0

    source = RestPageSource(transport=transport, max_pages=args.max_pages, delay_seconds=delay)
    pipeline = JobPipeline(spark, source, cfg)

    # --interval-seconds alone means "run on a schedule": default the run
    # count to forever in that case, to 1 for a plain one-shot invocation
    max_runs = args.runs if args.runs is not None else (0 if args.interval_seconds else 1)
    ok = True
    run = 0
    while True:
        run += 1
        metrics = pipeline.run()
        print(json.dumps(dataclasses.asdict(metrics)), flush=True)
        ok = ok and metrics.status == "success"
        if args.interval_seconds is None or (max_runs and run >= max_runs):
            break
        time.sleep(args.interval_seconds)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
