"""Contracts of `build_session`, which every entry point gets its session from."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiled_classes(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far (one
    histogram update per cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_generated_classes_compile_once(spark):
    """A plan surface wider than Spark's default 100-entry generated-class
    cache is recompiled on every repeat (and the JIT re-warms each fresh
    class); `build_session` sizes the cache so a repeat compiles nothing."""

    def surface():
        # a distinct literal per query: distinct generated code, so the
        # working set is ~2 classes per query, >100 in all
        for i in range(60):
            spark.range(4).select(
                (F.col("id") * F.lit(7_100_000 + i)).alias("x")
            ).collect()

    before = _compiled_classes(spark)
    surface()
    first = _compiled_classes(spark) - before
    assert first > 100, f"surface compiled only {first} classes"
    before = _compiled_classes(spark)
    surface()
    assert _compiled_classes(spark) - before == 0
