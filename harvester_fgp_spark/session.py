"""Tuned SparkSession builder (SURVEY.md §3.2, §4).

One place for every scale-relevant conf so tests, bench, and the
spark-submit job agree: AQE on (coalesce + skew-join), Arrow on with a
bounded batch size (html payloads are large — small batches bound Python
worker memory), shuffle partitions sized to the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot's tier-4 (C2) promotion thresholds, each x10 the JDK default.
# Every entry point starts its own driver JVM that lives for minutes, and
# in such a JVM C2 was the largest single CPU cost: on perfbench's
# query_mix pass (local[4]) 27 of 43 CPU s were JIT compile time, most of
# it C2 on catalyst, JDK, generated, Scala and Py4J code that runs only a
# few thousand times. With these thresholds hot code still reaches C2 and
# lukewarm code stays at C1: JIT time 27 -> 9 s per pass, query_mix
# op_cpu_s 39.5 -> 23.9 s (10 of 10 interleaved pairs), flagship
# 2.96 -> 2.33 s, wall time no worse. Rejected: TieredStopAtLevel=1
# (CPU -46 % but wall +24 %, executor CPU 5.4 -> 9.0 s) and
# CompileThresholdScaling=3 (also delays C1; flagship no better).
# Carried as spark.driver.defaultJavaOptions, which Spark's launcher puts
# in front of any spark.driver.extraJavaOptions, so a caller's own JVM
# options still apply. Under spark-submit the JVM is up before this
# module runs: pass the same flags with --driver-java-options.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)


def build_session(
    app_name: str = "harvester-fgp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # swept 4096/16384/65536 on the 2M-page pipeline at pinned-16:
        # 3.9 / 3.1 / 4.9 s — 16k amortizes per-batch Python overhead while
        # staying ~32 MB/batch at ~2 KB html payloads; 64k over-buffers
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # NOTE (round 8, measured): spark.sql.files.minPartitionNum is
        # left UNSET — the splitter's default minimum is already
        # leafNodeDefaultParallelism (= cores); forcing it to 1 costs
        # 2-4x on the lineitem scans, forcing it to cores changes
        # nothing. Single-ROW-GROUP fixture files still scan as one
        # task regardless; see __spark_entry__._read_spread.
        # generated-class cache (static, default 100): the 18 bench leaves
        # need ~280 distinct classes and the 107-query surface ~1,640
        # (geo_dbscan alone 212), so at 100 every repeat pass evicted and
        # Janino-recompiled ~290 classes and the JIT re-warmed each one.
        # At 2048 a repeat compiles 0: perfbench query_mix op_cpu_s
        # 53 -> 44 s on 4 cores, peak RSS unchanged.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # PySpark's origin capture (`_with_origin`) wraps every
        # `functions.*` call and Column operator in ~5 extra Py4J
        # round-trips plus a Python stack walk, only to label a runtime
        # error with its Python call site. Off, one build of the 18 bench
        # leaves (sf0.1, 4 cores) makes ~9.5k Py4J calls instead of
        # ~22.5k and spends ~0.6 instead of ~1.6 driver-Python CPU s.
        # Errors keep their error class and operator name; only the
        # Python file:line is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
