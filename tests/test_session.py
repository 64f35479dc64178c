"""The session keeps a warm session's generated classes cached."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkcollector.session import CODEGEN_CACHE_ENTRIES

# More distinct plans than Spark's default cache (100 classes) holds,
# far fewer than CODEGEN_CACHE_ENTRIES.
N_PLANS = 150


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (cache misses only)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_size_is_the_session_conf(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_pass_over_distinct_plans_compiles_nothing(spark):
    def run_pass():
        for i in range(N_PLANS):
            spark.range(3).select(F.col("id") * (i + 2) + i).collect()

    before = _compiles(spark)
    run_pass()
    first = _compiles(spark) - before
    run_pass()
    assert first > 0
    assert _compiles(spark) - before == first
