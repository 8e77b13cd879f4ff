"""Contracts of `build_session`, which every entry point gets its session from."""

from __future__ import annotations

import pytest
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


def test_origin_capture_is_off(spark):
    """`build_session` turns off PySpark's per-call origin capture
    (~5 Py4J round-trips per `functions.*` call or Column operator)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_runtime_error_keeps_its_class_without_origin_capture(spark):
    """With origin capture off an ANSI runtime error still surfaces with
    its error class; only the Python call-site fragment is gone."""
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
