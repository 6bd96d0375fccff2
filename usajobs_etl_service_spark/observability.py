"""S8 + A9 — structured logging and run-metrics observation
(reference ``StructuredFormatter`` etl.py:31-58; metrics accumulation
etl.py:570-578, 601, 620-684).

Spark-native shape: ``df.observe()`` attaches named aggregates to a plan
so metrics are collected DURING the action (no second scan — the
reference's counters, but computed inside the engine), surfaced through
a ``QueryExecutionListener``. Logging is stdlib-JSON, one object per
line, with the reference's field set.
"""

from __future__ import annotations

import json
import logging
import sys
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class StructuredFormatter(logging.Formatter):
    """JSON log lines with the reference's fields: timestamp, level,
    logger, message, module, function, line (etl.py:31-58)."""

    def format(self, record: logging.LogRecord) -> str:
        return json.dumps(
            {
                "timestamp": datetime.fromtimestamp(record.created, tz=timezone.utc).isoformat(),
                "level": record.levelname,
                "logger": record.name,
                "message": record.getMessage(),
                "module": record.module,
                "function": record.funcName,
                "line": record.lineno,
            }
        )


def get_structured_logger(name: str = "usajobs_etl_service_spark", stream=None) -> logging.Logger:
    logger = logging.getLogger(name)
    if not any(isinstance(h, logging.StreamHandler) and isinstance(h.formatter, StructuredFormatter) for h in logger.handlers):
        handler = logging.StreamHandler(stream or sys.stdout)
        handler.setFormatter(StructuredFormatter())
        logger.addHandler(handler)
        logger.setLevel(logging.INFO)
    return logger


def observe_counts(df: DataFrame, name: str = "metrics", **aggs) -> tuple[DataFrame, Observation]:
    """Generic observe() attach: ``observe_counts(df, rows=F.count(...))``."""
    obs = Observation(name)
    cols = [expr.alias(alias) for alias, expr in aggs.items()] or [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *cols), obs
