"""Mirror of the reference's complete-ETL-workflow integration test
(reference tests/test_integration.py:449-578): three realistic API
documents through the full pipeline, every rendered column asserted
with the reference's expected literals."""

from __future__ import annotations

from pyspark.sql import functions as F

from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
from usajobs_etl_service_spark.sources.rest_api import RestPageSource, RetryPolicy

from tests.test_rest_source import no_sleep


def _doc(title, uri, city, state, min_r, max_r, org, dept=None, start=None, cat=None, grade=None):
    md = {
        "PositionTitle": title,
        "PositionURI": uri,
        "PositionLocation": [{"CityName": city, "StateCode": state, "CountryCode": "US"}],
        "PositionRemuneration": [
            {"MinimumRange": min_r, "MaximumRange": max_r, "RateIntervalCode": "Per Year"}
        ],
        "OrganizationName": org,
    }
    if dept:
        md["DepartmentName"] = dept
    if start:
        md["PositionStartDate"] = start
    if cat:
        md["JobCategory"] = [{"Name": cat}]
    if grade:
        md["JobGrade"] = [{"Code": grade}]
    return {"MatchedObjectDescriptor": md}


REALISTIC_PAGE = {
    "SearchResult": {
        "SearchResultCount": 3,
        "SearchResultCountAll": 3,
        "SearchResultItems": [
            _doc(
                "Data Engineer", "https://www.usajobs.gov/job/12345", "Washington", "DC",
                "80000", "120000", "Department of Defense",
                dept="Defense Information Systems Agency",
                start="2023-01-01T00:00:00.0000000",
                cat="Information Technology", grade="GS-13",
            ),
            _doc(
                "Senior Data Engineer", "https://www.usajobs.gov/job/67890", "Chicago", "IL",
                "95000", "140000", "Department of Transportation",
            ),
            _doc(
                "Lead Data Engineer", "https://www.usajobs.gov/job/11111", "San Francisco", "CA",
                "110000", "160000", "Department of Energy",
            ),
        ],
    }
}


def test_complete_etl_workflow(spark, tmp_path):
    src = RestPageSource(
        transport=lambda params: REALISTIC_PAGE if params["Page"] == 1 else {"SearchResult": {"SearchResultItems": []}},
        page_size=3,
        max_pages=1,
        retry=RetryPolicy(sleep=no_sleep),
        sleep=no_sleep,
    )
    pipeline = JobPipeline(spark, src, PipelineConfig(keyword="data engineering", table_path=str(tmp_path / "tbl")))
    results = pipeline.run()

    # run-result assertions (reference :530-533)
    assert results.jobs_extracted == 3
    assert results.inserted == 3
    assert results.duration_seconds > 0
    table = pipeline.current_table()
    assert table.count() == 3

    # data-quality assertions, ordered by title (reference :541-566)
    jobs = (
        table.select("position_title", "position_location", "organization_name", "position_remuneration")
        .orderBy("position_title")
        .collect()
    )
    assert jobs[0][0] == "Data Engineer"
    assert jobs[0][1] == "Washington, DC, US"
    assert jobs[0][2] == "Department of Defense"
    assert "$80,000 - $120,000" in jobs[0][3]

    assert jobs[1][0] == "Lead Data Engineer"
    assert jobs[1][1] == "San Francisco, CA, US"
    assert jobs[1][2] == "Department of Energy"

    assert jobs[2][0] == "Senior Data Engineer"
    assert jobs[2][1] == "Chicago, IL, US"
    assert jobs[2][2] == "Department of Transportation"

    # timestamp completeness (reference :568-577)
    ts = table.select("extracted_at", "created_at", "updated_at").first()
    assert all(v is not None for v in ts)

    # detail fields on the fully-populated document
    detail = table.filter(F.col("position_uri") == "https://www.usajobs.gov/job/12345").first()
    assert detail["department_name"] == "Defense Information Systems Agency"
    assert detail["job_category"] == "Information Technology"
    assert detail["job_grade"] == "GS-13"
    assert str(detail["position_start_date"]) == "2023-01-01"

    # statistics readback (reference :153-166 semantics)
    stats = pipeline.statistics()
    assert stats["total_jobs"] == 3
    assert stats["unique_organizations"] == 3
