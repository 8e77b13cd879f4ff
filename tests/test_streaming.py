"""Structured Streaming smoke: the batch stages lift unchanged (§2.10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from harvester_fgp_spark.streaming.pipeline import (
    read_pages_stream,
    stream_tile_counts,
)
from harvester_fgp_spark.synth import pages_df


def test_streaming_tile_counts_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages_stream")
    pages = pages_df(spark, 400, seed=42)
    pages.repartition(4).write.mode("overwrite").parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    agg = stream_tile_counts(stream, window="6 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "scp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "select sum(n_payloads) as total from tile_counts"
    ).first()
    # batch equivalent over the same input
    from harvester_fgp_spark.operators import extract as E

    exp = (
        E.with_payloads(
            spark.read.parquet(src).filter(F.col("lang").isin("en", "fr")), "text"
        ).count()
    )
    assert got.total == exp


def test_streaming_tile_counts_plan_has_zero_python(spark):
    """stream_tile_counts mines with the JVM miner: applied to a batch
    pages frame (the watermark is a no-op in batch), its executed plan
    has no Python stage."""
    agg = stream_tile_counts(pages_df(spark, 200, seed=42), window="6 hours")
    plan = agg._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython", "MapInArrow"):
        assert node not in plan, node
    assert agg.count() > 0


def test_stateful_dedup_across_micro_batches(spark, tmp_path):
    """applyInPandasWithState: first-seen urls emitted once, later crawls
    of the same url suppressed even when they arrive in later batches."""
    import pandas as pd

    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        read_pages_stream,
        stream_dedup_first_seen,
    )

    src = str(tmp_path / "pages_src")

    def _batch(urls, ts_day):
        pdf = pd.DataFrame(
            {
                "url": urls,
                "warc_ts": [pd.Timestamp(f"2024-01-{ts_day:02d}")] * len(urls),
                "html": [None] * len(urls),
                "text": ["x"] * len(urls),
                "lang": ["en"] * len(urls),
            }
        )
        return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)

    # batch 1: urls a,b,c — batch 2: b,c,d (overlap b,c)
    _batch(["u://a", "u://b", "u://c"], 1).write.mode("overwrite").parquet(src)
    _batch(["u://b", "u://c", "u://d"], 2).write.mode("append").parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream_dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select url from first_seen").collect()
    urls = sorted(r.url for r in rows)
    assert urls == ["u://a", "u://b", "u://c", "u://d"]  # each exactly once


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """Round-4 twin of the cross-batch first-seen test: the native
    dropDuplicatesWithinWatermark variant dedups re-crawls whose event
    times sit within the watermark horizon, while a re-crawl beyond the
    horizon re-emits AFTER the watermark has evicted the url's state —
    the bounded-state trade documented in stream_dedup_within_watermark
    (state = urls per horizon, not urls ever)."""
    import pandas as pd

    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        read_pages_stream,
        stream_dedup_within_watermark,
    )

    src = str(tmp_path / "wm_dedup_src")

    def _batch(urls, day, mode):
        pdf = pd.DataFrame(
            {
                "url": urls,
                "warc_ts": [pd.Timestamp(f"2024-01-{day:02d}")] * len(urls),
                "html": [None] * len(urls),
                "text": ["x"] * len(urls),
                "lang": ["en"] * len(urls),
            }
        )
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.mode(
            mode
        ).parquet(src)

    # batch 1: a,b on day 1; batch 2: b again SAME day (inside horizon)
    # plus c on day 10 (advances the watermark past day 1 + 1d)
    _batch(["u://a", "u://b"], 1, "overwrite")
    _batch(["u://b"], 1, "append")
    _batch(["u://c"], 10, "append")

    stream = read_pages_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream_dedup_within_watermark(stream, watermark="1 day")
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_cp"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = sorted(
            r.url for r in spark.sql("select url from wm_dedup").collect()
        )
        assert first == ["u://a", "u://b", "u://c"]  # in-horizon dup dropped

        # phase 2 (same running query): day-1 state is long evicted
        # (watermark ~ day 9); a re-crawl of u://a far outside the
        # horizon RE-emits — the bounded guarantee, exactly
        _batch(["u://a"], 12, "append")
        q.processAllAvailable()
    finally:
        q.stop()
    from collections import Counter

    counts = Counter(
        r.url for r in spark.sql("select url from wm_dedup").collect()
    )
    assert counts == {"u://a": 2, "u://b": 1, "u://c": 1}


def test_watermark_drops_late_rows(spark, tmp_path):
    """§2.10 late-data semantics: with a short watermark and append-mode
    windowed counts, a row arriving far behind the advanced watermark is
    dropped from the already-finalized window."""
    import pandas as pd

    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        read_pages_stream,
        stream_tile_counts,
    )

    src = str(tmp_path / "late_src")

    def _write(ts, mode):
        pdf = pd.DataFrame(
            {
                "url": [f"u://{ts}"],
                "warc_ts": [pd.Timestamp(ts)],
                "html": [None],
                "text": ["point at 45.0, -75.0"],
                "lang": ["en"],
            }
        )
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.mode(mode).parquet(src)

    # phase 1: an event at T0, then T0+3d which advances the watermark
    # (1d) far past T0's hour window; phase 2 (written only after phase 1
    # is fully processed, so trigger order is guaranteed): a LATE row
    # back inside T0's window
    _write("2024-01-01 00:10:00", "overwrite")
    _write("2024-01-04 00:10:00", "append")

    stream = read_pages_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream_tile_counts(stream, watermark="1 day", window="1 hour")
        .writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write("2024-01-01 00:20:00", "append")  # late arrival
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "select w.start as ws, n_payloads from late_counts"
    ).collect()
    by_window = {str(r.ws): r.n_payloads for r in rows}
    # T0's window finalized with ONE payload — the late third row was
    # dropped, not double-counted and not re-emitted
    assert by_window.get("2024-01-01 00:00:00") == 1


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with event-time bounds: identical rows to
    the batch join over the same inputs, across multiple micro-batches."""
    import pandas as pd

    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        FETCH_LOG_FIELDS,
        read_fetch_log_stream,
        read_pages_stream,
        stream_join_fetch_log,
    )

    pages_src = str(tmp_path / "pages_src")
    logs_src = str(tmp_path / "logs_src")

    def _pages(urls_ts):
        pdf = pd.DataFrame(
            {
                "url": [u for u, _ in urls_ts],
                "warc_ts": [pd.Timestamp(t) for _, t in urls_ts],
                "html": [None] * len(urls_ts),
                "text": ["x"] * len(urls_ts),
                "lang": ["en"] * len(urls_ts),
            }
        )
        return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)

    def _logs(rows):
        pdf = pd.DataFrame(
            {
                "url": [u for u, _, _ in rows],
                "log_ts": [pd.Timestamp(t) for _, t, _ in rows],
                "status": [s for _, _, s in rows],
            }
        )
        return spark.createDataFrame(pdf, schema=FETCH_LOG_FIELDS)

    # one file per write => deterministic micro-batch order under
    # maxFilesPerTrigger=1 (multi-part writes interleave arbitrarily and
    # the watermark then legitimately drops "late" rows — flaky)
    _pages(
        [("u://a", "2024-01-01 10:00"), ("u://b", "2024-01-01 11:00")]
    ).coalesce(1).write.mode("overwrite").parquet(pages_src)
    _pages([("u://c", "2024-01-01 12:00")]).coalesce(1).write.mode(
        "append"
    ).parquet(pages_src)
    _logs(
        [
            ("u://a", "2024-01-01 10:05", 200),  # within 10 min -> match
            ("u://a", "2024-01-01 10:30", 200),  # outside -> no match
            ("u://b", "2024-01-01 10:55", 304),  # within (before) -> match
            ("u://x", "2024-01-01 11:00", 500),  # url never crawled
        ]
    ).coalesce(1).write.mode("overwrite").parquet(logs_src)
    _logs(
        [("u://c", "2024-01-01 12:01", 200)]  # arrives in a later batch
    ).coalesce(1).write.mode("append").parquet(logs_src)

    joined = stream_join_fetch_log(
        read_pages_stream(spark, pages_src, max_files_per_trigger=1),
        read_fetch_log_stream(spark, logs_src, max_files_per_trigger=1),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["url"], str(r["log_ts"]), r["status"])
        for r in spark.sql("select * from ssj").collect()
    }
    assert got == {
        ("u://a", "2024-01-01 10:05:00", 200),
        ("u://b", "2024-01-01 10:55:00", 304),
        ("u://c", "2024-01-01 12:01:00", 200),
    }


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Native dynamic-gap session_window: streaming output (append mode,
    sessions finalized by the watermark) equals the batch run of the
    identical plan."""
    import pandas as pd

    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        read_pages_stream,
        sessionize_windows,
    )

    src = str(tmp_path / "sess_src")
    rows = [
        ("u://a", "2024-01-01 10:00"),
        ("u://a", "2024-01-01 10:10"),  # same session (gap 30m)
        ("u://a", "2024-01-01 11:30"),  # new session
        ("u://b", "2024-01-01 10:05"),
        # late sentinel advances the watermark far enough to close all
        ("u://z", "2024-01-02 00:00"),
    ]
    pdf = pd.DataFrame(
        {
            "url": [u for u, _ in rows],
            "warc_ts": [pd.Timestamp(t) for _, t in rows],
            "html": [None] * len(rows),
            "text": ["x"] * len(rows),
            "lang": ["en"] * len(rows),
        }
    )
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    df.coalesce(1).write.parquet(src)

    q = (
        sessionize_windows(read_pages_stream(spark, src))
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["url"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    batch = {
        (r["url"], str(r["session_start"]), r["n_events"])
        for r in sessionize_windows(
            spark.read.parquet(src), streaming=False
        ).collect()
    }
    # streaming append emits only watermark-closed sessions; the sentinel
    # closes everything before it
    closed_batch = {t for t in batch if not t[0] == "u://z"}
    assert closed_batch <= got <= batch
    assert ("u://a", "2024-01-01 10:00:00", 2) in got
    assert ("u://a", "2024-01-01 11:30:00", 1) in got


def test_stream_dedup_incremental_store(spark, tmp_path):
    """Continuous-crawl dedup: a file stream drained batch-by-batch
    against the persistent signature store reports the SAME pair set as
    a one-shot batch run over everything streamed — including
    cross-micro-batch duplicates no watermark-bounded operator would
    hold state for."""
    from harvester_fgp_spark.streaming.pipeline import (
        stream_dedup_incremental_store,
    )
    from harvester_fgp_spark.operators.dedup import minhash_near_dup_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    # originals + planted copies under DIFFERENT ids: the copies arrive
    # in later files than their originals (cross-batch by construction)
    dup = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    src = str(tmp_path / "docs_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    dup.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = str(tmp_path / "sigstore")
    pairs_out = str(tmp_path / "pairs")
    q = (
        stream_dedup_incremental_store(
            stream, store, pairs_out, threshold=0.9
        )
        .option("checkpointLocation", str(tmp_path / "scp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.option("basePath", pairs_out).parquet(pairs_out)
    oneshot = minhash_near_dup_pairs(
        docs.unionByName(dup), threshold=0.9
    ).toPandas()
    got_pairs = set(
        map(tuple, got.select("id_a", "id_b").toPandas().values.tolist())
    )
    exp_pairs = set(map(tuple, oneshot[["id_a", "id_b"]].values.tolist()))
    assert got_pairs == exp_pairs and len(exp_pairs) >= 20
    # cross-batch dups specifically were caught
    assert any(b >= 10000 for _, b in got_pairs)
