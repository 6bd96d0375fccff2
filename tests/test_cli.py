"""E1 CLI entry point (reference main(), etl.py:695-714): one-command
run, env/flag config, exit codes, idempotent re-run."""

from __future__ import annotations

import json

from usajobs_etl_service_spark.__main__ import build_parser, demo_transport, main
from usajobs_etl_service_spark.sources import rest_api
from usajobs_etl_service_spark.sources.rest_api import RestPageSource


def test_cli_one_shot_success(spark, tmp_path, capsys):
    tbl = str(tmp_path / "tbl")
    rc = main(["--table-path", tbl, "--demo-jobs", "8"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "success"
    assert out["jobs_extracted"] == 8
    assert (out["inserted"], out["updated"]) == (8, 0)
    assert spark.read.parquet(tbl + "/v=*").count() == 8


def test_cli_second_run_updates(spark, tmp_path, capsys):
    tbl = str(tmp_path / "tbl")
    assert main(["--table-path", tbl, "--demo-jobs", "5"]) == 0
    assert main(["--table-path", tbl, "--demo-jobs", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["inserted"], out["updated"]) == (0, 5)


def test_cli_schedule_loop_runs_n_times(spark, tmp_path, capsys):
    tbl = str(tmp_path / "tbl")
    rc = main(["--table-path", tbl, "--demo-jobs", "3", "--interval-seconds", "0", "--runs", "2"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 2


def test_max_pages_env_caps_the_scan(spark, tmp_path, monkeypatch, capsys):
    """MAX_PAGES reaches the page source: two 500-posting pages of 1200."""
    monkeypatch.setenv("MAX_PAGES", "2")
    assert main(["--table-path", str(tmp_path / "tbl"), "--demo-jobs", "1200"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["api_calls"], out["jobs_extracted"]) == (2, 1000)


def test_master_defaults_to_the_session_factory(monkeypatch):
    """Without SPARK_MASTER the CLI passes no master, so get_spark's
    local[$SPARK_GRAFT_CPUS] default applies; SPARK_MASTER overrides it."""
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert build_parser().parse_args([]).master is None
    monkeypatch.setenv("SPARK_MASTER", "local[2]")
    assert build_parser().parse_args([]).master == "local[2]"


def test_live_source_waits_between_pages(spark, tmp_path, monkeypatch, capsys):
    """--base-url pages are 1.5 s apart, the reference's API_DELAY; the
    demo source does not wait."""
    urls, sleeps = [], []

    def fake_http_transport(base_url, headers):
        urls.append(base_url)
        return demo_transport(total_jobs=25)

    def source_recording_sleeps(**kwargs):  # ten postings a page: three pages
        return RestPageSource(**kwargs, page_size=10, sleep=sleeps.append)

    monkeypatch.setattr(rest_api, "http_transport", fake_http_transport)
    monkeypatch.setattr(rest_api, "RestPageSource", source_recording_sleeps)
    assert main(["--table-path", str(tmp_path / "live"), "--base-url", "https://api.example/search"]) == 0
    assert urls == ["https://api.example/search"]
    assert sleeps == [1.5, 1.5]
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["jobs_extracted"], out["api_calls"]) == (25, 3)

    sleeps.clear()
    assert main(["--table-path", str(tmp_path / "demo"), "--demo-jobs", "25"]) == 0
    assert sleeps == []


def test_demo_transport_paginates_and_exhausts():
    t = demo_transport(total_jobs=7, page_size=10)
    p1 = t({"Page": 1, "ResultsPerPage": 3})["SearchResult"]
    assert p1["SearchResultCount"] == 3 and p1["SearchResultCountAll"] == 7
    p3 = t({"Page": 3, "ResultsPerPage": 3})["SearchResult"]
    assert p3["SearchResultCount"] == 1  # partial page -> scan stops
