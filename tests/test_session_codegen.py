"""The session's generated-code cache holds a whole query set, so
rerunning the same query shapes compiles nothing.

Spark's default cache keeps 100 classes; one analytics round generates
about 400, in a fixed order, so under LRU every rerun recompiled every
query. Compile counts do not vary between runs, so this pins it
without timing. The cache is sized when codegen first runs in the JVM;
the conftest session is the only session the suite builds."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinerepo_spark.session import CODEGEN_CACHE_ENTRIES

# more distinct classes than Spark's default cache holds, fewer than ours
N_QUERIES = 150


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_queries(spark) -> None:
    # codegen inlines integer literals, so each query compiles its own
    # classes (partial and final aggregate)
    for i in range(N_QUERIES):
        spark.range(8).selectExpr(f"id * {i} + {i} AS v").agg(F.sum("v")).collect()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_rerun_query_set_compiles_nothing(spark):
    before = _compiles(spark)
    _run_queries(spark)
    first = _compiles(spark)
    assert first - before >= N_QUERIES
    _run_queries(spark)
    assert _compiles(spark) == first
