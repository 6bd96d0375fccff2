"""Native Python DataSource (spark.read.format) — partition planning,
page-size clamp, distributed page generation, flatten integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from usajobs_etl_service_spark.sources.datasource import read_rest_jobs, register_rest_datasource


def test_partition_per_page_and_row_counts(spark):
    register_rest_datasource(spark)
    raw = (
        spark.read.format("usajobs_rest")
        .option("mock_total", 1200)
        .option("results_per_page", 500)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 3  # ceil(1200/500) pages = partitions
    pages = sorted(r["page"] for r in raw.select("page").collect())
    assert pages == [1, 2, 3]


def test_max_pages_caps_partition_planning(spark):
    register_rest_datasource(spark)
    raw = (
        spark.read.format("usajobs_rest")
        .option("mock_total", 100000)
        .option("results_per_page", 500)
        .option("max_pages", 4)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4  # early-exit lives in the planner


def test_page_size_clamped(spark):
    register_rest_datasource(spark)
    raw = (
        spark.read.format("usajobs_rest")
        .option("mock_total", 1000)
        .option("results_per_page", 99999)  # clamped to 500
        .load()
    )
    assert raw.rdd.getNumPartitions() == 2


def test_flattened_end_to_end(spark):
    flat = read_rest_jobs(spark, mock_total=1200, results_per_page=500)
    assert flat.count() == 1200
    row = flat.filter(F.col("position_uri") == "https://www.usajobs.gov/job/42-0").first()
    assert row["position_title"] == "Data Engineer 0"
    assert row["position_location"] == "City 0, S0, US"
    assert row["position_remuneration"] == "$80,000+ Per Year"
    assert flat.select("position_uri").distinct().count() == 1200
