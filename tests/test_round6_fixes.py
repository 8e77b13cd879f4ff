"""Round-6 additions (VERDICT r5 next-steps): the streaming family's
batch-mode session_window driver row, the HLL error-bound gate, the
auto-sized LSH verify broadcast, and the ADVICE hardening."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

import __spark_entry__ as E
from tests.conftest import plan_string as _plan


def test_session_window_boundary_semantics(spark):
    """Pin the measured session_window merge rule the DuckDB oracle
    encodes: events EXACTLY gap apart merge (split is strictly >), and
    the session ends at last event ts + gap."""
    from harvester_fgp_spark.streaming.pipeline import sessionize_windows

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # == gap -> merges
        (1, dt.datetime(2024, 1, 1, 0, 59, 59)),
        (1, dt.datetime(2024, 1, 1, 1, 30, 0)),  # 30:01 after -> splits
        (2, dt.datetime(2024, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize_windows(
        df, gap="30 minutes", streaming=False, ts_col="ts", key_col="user_id"
    )
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.toPandas().itertuples()
    )
    assert got == [
        (
            1,
            dt.datetime(2024, 1, 1, 0, 0, 0),
            dt.datetime(2024, 1, 1, 1, 29, 59),
            3,
        ),
        (
            1,
            dt.datetime(2024, 1, 1, 1, 30, 0),
            dt.datetime(2024, 1, 1, 2, 0, 0),
            1,
        ),
        (
            2,
            dt.datetime(2024, 1, 1, 0, 0, 0),
            dt.datetime(2024, 1, 1, 0, 30, 0),
            1,
        ),
    ]


def test_session_window_batch_matches_lag_sessionizer(spark, sf_dir):
    """The native session_window plan and the lag/running-sum sessionizer
    (sessionize_events) must reconstruct the SAME sessions — same
    per-user session count and same event totals."""
    native = E.queries()["session_window_batch"](spark, sf_dir)
    lagged = E.queries()["sessionize_events"](spark, sf_dir)
    n = (
        native.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    l = (
        lagged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (n["n_sessions"] == l["n_sessions"]).all()
    assert (n["n_events"] == l["n_events"]).all()


def test_approx_distinct_bound_holds(spark, sf_dir):
    """The HLL rsd=0.01 estimate stays within the 5% gate bound on the
    fixture — the exact-gate row's within_bound must be all-1."""
    out = E.queries()["approx_distinct_bound"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["within_bound"] == 1).all()
    assert (out["exact_users"] > 0).all()


def _dup_corpus(spark):
    base = [(i, f"unique document number {i} with words " + " ".join(
        f"tok{(i * 7 + j) % 50}" for j in range(30))) for i in range(40)]
    dups = [(i + 1000, t) for i, t in base[:10]]
    return spark.createDataFrame(base + dups, "doc_id long, text string")


def _pairs_and_plan(df):
    """Plan and verified pairs with size-based broadcasting off, so the
    plan shows only the operator's own broadcast choice."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return sorted(map(tuple, df.collect())), _plan(df)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_minhash_auto_broadcast_parity(spark):
    """A small candidate set (far below MAX_BROADCAST_PAIRS) is
    broadcast — the candidate pairs, never the corpus — and every planted
    twin is verified."""
    from harvester_fgp_spark.operators.dedup import minhash_near_dup_pairs

    pairs, plan = _pairs_and_plan(minhash_near_dup_pairs(_dup_corpus(spark)))
    bcast = plan.split("BroadcastExchange", 1)[1]
    assert "explode(array(id_a" in bcast and "FileScan" not in bcast
    assert {(i, i + 1000) for i in range(10)} <= {p[:2] for p in pairs}


def test_auto_broadcast_flips_on_dup_heavy_corpus(spark, monkeypatch):
    """With MAX_BROADCAST_PAIRS forced to 0 every corpus counts as
    dup-heavy: the verify join must take the shuffled plan and still
    return the identical verified pairs (driver-OOM guard)."""
    from harvester_fgp_spark.operators import dedup

    corpus = _dup_corpus(spark)
    auto, _ = _pairs_and_plan(dedup.minhash_near_dup_pairs(corpus))
    monkeypatch.setattr(dedup, "MAX_BROADCAST_PAIRS", 0)
    shuffled, plan = _pairs_and_plan(dedup.minhash_near_dup_pairs(corpus))
    assert "BroadcastExchange" not in plan
    assert shuffled == auto and len(auto) >= 10


def test_partition_lineage_reads_numeric_run_id_as_string(spark, tmp_path):
    """Round-6 advice: Hive partition type inference must NOT turn a
    numeric-looking ('20260817'), date-shaped ('2026-08-17'), or
    zero-padded ('0123') run_id into INT/DATE on read — both layouts
    read run_id/stage back as STRING, byte-identical."""
    from harvester_fgp_spark.sinks.checkpoint import (
        _read_checkpoint,
        completed_tiles,
        write_records_and_checkpoint,
    )

    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    recs = spark.createDataFrame(
        [(f"r{i}", 8, i % 3, i % 2) for i in range(20)],
        "record_id string, tile_z int, tile_x int, tile_y int",
    )
    for rid in ("20260817", "2026-08-17", "0123"):
        write_records_and_checkpoint(
            recs, out, cp, run_id=rid, partition_lineage=True
        )
    got = _read_checkpoint(spark, cp)
    assert dict(got.dtypes)["run_id"] == "string"
    assert dict(got.dtypes)["stage"] == "string"
    run_ids = {r.run_id for r in got.select("run_id").distinct().collect()}
    assert run_ids == {"20260817", "2026-08-17", "0123"}
    assert completed_tiles(spark, cp).count() > 0
