"""Session factory pins: the generated-class cache holds a repeated
working set larger than Spark's 100-entry default, so plans that run
again reuse their compiled classes instead of recompiling them."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_keeps_a_cycle_of_150_plans(spark):
    """150 distinct plans, each collected once, then the same cycle
    again: the second cycle compiles nothing. The int literal is
    inlined into each plan's generated source, so every plan is its
    own cache entry; a 100-entry LRU evicts each one before the cycle
    comes back to it and recompiles all 150."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    plans = [
        spark.range(10).select((F.col("id") * F.lit(i)).alias("x"))
        for i in range(1000, 1150)
    ]
    for df in plans:
        df.collect()
    first = _compiles(spark)
    for df in plans:
        df.collect()
    assert _compiles(spark) == first
