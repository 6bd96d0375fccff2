"""S8/A9: structured JSON logs and observe()-based run metrics."""

from __future__ import annotations

import io
import json
import logging

from pyspark.sql import functions as F

from usajobs_etl_service_spark.observability import (
    StructuredFormatter,
    get_structured_logger,
    observe_counts,
)


def test_structured_log_fields():
    buf = io.StringIO()
    logger = logging.getLogger("test_structured")
    logger.handlers.clear()
    h = logging.StreamHandler(buf)
    h.setFormatter(StructuredFormatter())
    logger.addHandler(h)
    logger.setLevel(logging.INFO)
    logger.info("pipeline started")
    rec = json.loads(buf.getvalue().strip())
    assert rec["message"] == "pipeline started"
    assert set(rec) == {"timestamp", "level", "logger", "message", "module", "function", "line"}
    assert rec["level"] == "INFO"


def test_observe_counts_generic(spark, sf_dir):
    from usajobs_etl_service_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders")
    observed, obs = observe_counts(
        orders, rows=F.count(F.lit(1)), revenue=F.round(F.sum("o_totalprice"), 2)
    )
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get["rows"] == orders.count()
    assert obs.get["revenue"] > 0


def test_logger_singleton_no_duplicate_handlers():
    l1 = get_structured_logger("dup_check")
    l2 = get_structured_logger("dup_check")
    assert l1 is l2
    assert sum(isinstance(h.formatter, StructuredFormatter) for h in l1.handlers) == 1
