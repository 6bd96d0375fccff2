"""The session factory's generated-code cache holds a working set larger
than Spark's default of 100 classes, so a repeated pass of queries
compiles nothing the second time."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_working_set_over_100_classes(spark):
    # each literal is inlined into the generated code, so every plan
    # compiles its own classes (two per plan: the stage and its
    # projection)
    plans = [spark.range(0, 2, 1, 1).select((F.col("id") + F.lit(i)).alias("x")) for i in range(120)]
    before = _compiles(spark)
    for df in plans:
        df.collect()
    first = _compiles(spark) - before
    assert first > 100
    before = _compiles(spark)
    for df in plans:
        df.collect()
    assert _compiles(spark) - before == 0
