"""The generated-class cache holds a working set larger than Spark's
default of 100 entries (``get_spark`` sets ``codegen.cache.maxEntries``)."""

from __future__ import annotations


def test_query_rerun_after_100_other_compiles_compiles_nothing(spark):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(expr: str) -> None:
        spark.range(8).selectExpr(expr).collect()

    probe = "id * 7919 + 104729 AS probe"
    run(probe)
    before = compiles.getCount()
    for i in range(120):
        run(f"id * {1_000_003 + i} AS x")
    assert compiles.getCount() - before > 100  # the cache saw > 100 other classes
    after = compiles.getCount()
    run(probe)
    assert compiles.getCount() == after
