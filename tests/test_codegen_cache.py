"""Spark's cache of compiled generated classes holds the engine's
working set (``CODEGEN_CACHE_ENTRIES`` in adt_spark/context.py).

One pass over the windowed queries below compiles more classes than
Spark's default cache holds (100).  Under LRU eviction a repeated pass
then misses on every class and Janino-compiles it again; with the
engine's cache size the repeat compiles nothing.  Compiles are counted
by Spark's own ``CodegenMetrics``: one compilation-time sample per
class the cache did not have."""

from __future__ import annotations

WINDOW_QUERIES = (
    "q_window_exclude_minmax",  # keyed RANGE compression
    "q_window_exclude",
    "q_window_groups_frame",
    "q_sql_global_rank",
    "q_sql_two_rank_orders",
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_hit_codegen_cache(spark, sf_dir):
    from adt_spark.queries import load_all

    registry = load_all()

    def one_pass() -> int:
        c0 = _compiles(spark)
        for name in WINDOW_QUERIES:
            df = registry[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return _compiles(spark) - c0

    first = one_pass()
    second = one_pass()
    assert first > 100, f"the queries compiled only {first} classes"
    assert second == 0, f"a repeated pass compiled {second} of {first} classes again"
