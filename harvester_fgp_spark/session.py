"""Tuned SparkSession builder (SURVEY.md §3.2, §4).

One place for every scale-relevant conf so tests, bench, and the
spark-submit job agree: AQE on (coalesce + skew-join), Arrow on with a
bounded batch size (html payloads are large — small batches bound Python
worker memory), shuffle partitions sized to the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
