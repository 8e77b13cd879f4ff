"""Contracts of `build_session`, which every entry point gets its session from."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.session import JIT_POLICY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_session_jvm_runs_the_jit_policy(spark):
    """The driver JVM runs with the raised tier-4 (C2) thresholds; the
    JDK default for Tier4InvocationThreshold is 5000."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = dict(f.removeprefix("-XX:").split("=") for f in JIT_POLICY.split())
    assert len(flags) == 4
    assert {name: bean.getVMOption(name).getValue() for name in flags} == flags


_PROBE = """
import json
from harvester_fgp_spark.session import build_session
spark = build_session(master="local[1]", shuffle_partitions=1, extra_conf={
    "spark.driver.extraJavaOptions": "-Dhfs.caller.option=kept"})
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_caller_java_options_reach_the_jvm_with_the_policy():
    """The policy rides on spark.driver.defaultJavaOptions, which the
    launcher puts in front of a caller's spark.driver.extraJavaOptions:
    both reach a freshly launched driver JVM."""
    path = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert set(JIT_POLICY.split()) <= set(args)
    assert "-Dhfs.caller.option=kept" in args


@pytest.mark.parametrize("doc", ["README.md", "jobs/run_pipeline.py"])
def test_spark_submit_lines_carry_the_policy(doc):
    """Under spark-submit the driver JVM starts before `build_session`,
    so the documented command lines pass the same flags themselves."""
    with open(os.path.join(REPO, doc), encoding="utf-8") as fh:
        text = fh.read()
    assert "--driver-java-options" in text
    assert all(flag in text for flag in JIT_POLICY.split())
