"""Repeat passes reuse generated code: a second pass over the 12 headline
operators compiles no new classes, because get_spark sizes Spark's
generated-code cache above the registry's working set (at Spark's default
of 100 entries the second pass recompiled about 145 classes)."""

from __future__ import annotations

from bench import HEADLINE
from conftest import SF_DIR

from secdb_spark.registry import all_queries


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _headline_pass(spark, queries) -> None:
    for op in HEADLINE.values():
        queries[op](spark, SF_DIR).write.mode("overwrite").format("noop").save()


def test_second_headline_pass_compiles_nothing(spark):
    queries = all_queries()
    _headline_pass(spark, queries)
    before = _compiles(spark)
    _headline_pass(spark, queries)
    assert _compiles(spark) - before == 0
