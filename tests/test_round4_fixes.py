"""Round-4 ADVICE fixes, pinned by tests:

- commit_token tie-break: two commits to the same tile in the SAME
  current_timestamp tick must reduce to exactly ONE whole commit
  (round-3 advice: max(completed_at) alone kept both — doubled cp_rows,
  xor'd fingerprints, false audit red).
- vacuum hardening: non-local URIs refused; a crash between the two
  swap moves auto-recovers from .vacuum-old on the next call.
- partitionOverwriteMode is restored after every sink write.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.sinks import checkpoint as C


def _cp_frame(spark, rows):
    return spark.createDataFrame(
        rows,
        "run_id string, stage string, partition_id int, tile_id long, "
        "row_count long, input_fingerprint string, "
        "completed_at timestamp, commit_token string",
    )


def test_latest_commits_breaks_same_tick_ties(spark):
    import datetime

    t = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # commit A: two partition rows, token aaa
        ("r1", "records", 0, 7, 10, "00000000000000aa", t, "aaa"),
        ("r1", "records", 1, 7, 5, "00000000000000ab", t, "aaa"),
        # commit B (replay in the SAME tick): one partition row, token bbb
        ("r1", "records", 0, 7, 15, "00000000000000ba", t, "bbb"),
    ]
    reduced = C._latest_commits(_cp_frame(spark, rows), ["tile_id"]).collect()
    # exactly the max-token commit survives, whole
    assert len(reduced) == 1
    assert reduced[0]["commit_token"] == "bbb"
    assert reduced[0]["row_count"] == 15


def test_contraction_stats_do_not_compound(spark):
    """Round-4 originStats bug pin: localCheckpoint copies the origin
    plan's Statistics onto the checkpointed LogicalRDD, and size-only
    join estimates MULTIPLY children — an iterative loop compounds the
    estimate exponentially (digits double per round; a 1M-node run died
    in BigInteger arithmetic after 41 CPU-minutes). The fixed loop's
    returned frame must report a bounded estimate (conf-default scale,
    <= Long.MaxValue ~ 19 digits), however many rounds ran."""
    from harvester_fgp_spark.operators.dedup import connected_components

    n = 2000
    m = 1 << 11
    ids = spark.range(n).select(
        ((F.col("id") * 1685821657 + 7) % m).alias("doc_id")
    )
    edges = spark.range(n - 1).select(
        ((F.col("id") * 1685821657 + 7) % m).alias("id_a"),
        (((F.col("id") + 1) * 1685821657 + 7) % m).alias("id_b"),
    )
    stats: dict = {}
    cc = connected_components(ids, edges, id_col="doc_id", stats=stats)
    assert cc.select("cluster_id").distinct().count() == 1  # one path
    assert len(stats["rounds"]) >= 4  # enough rounds to compound
    digits = len(
        str(cc._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    # pre-fix this was hundreds of digits after a handful of rounds
    assert digits <= 25, digits


def test_vacuum_refuses_non_local_uri(spark):
    with pytest.raises(ValueError, match="non-local"):
        C.vacuum_checkpoint(spark, "s3://bucket/checkpoint")
    with pytest.raises(ValueError, match="non-local"):
        C.vacuum_checkpoint(spark, "hdfs://nn/checkpoint")


def test_vacuum_recovers_from_crashed_swap(spark, tmp_path):
    cp_dir = str(tmp_path / "cp")
    import datetime

    t = datetime.datetime(2026, 1, 1, 12, 0, 0)
    _cp_frame(
        spark, [("r1", "records", 0, 7, 10, "aa", t, "tok1")]
    ).write.parquet(cp_dir)
    # simulate a crash between the two moves: only .vacuum-old remains
    old = cp_dir + ".vacuum-old"
    shutil.move(cp_dir, old)
    assert not os.path.exists(cp_dir)
    C.vacuum_checkpoint(spark, cp_dir)
    # recovered AND vacuumed: the table is back with its single commit
    got = spark.read.parquet(cp_dir).collect()
    assert len(got) == 1 and got[0]["row_count"] == 10
    assert not os.path.exists(old)


def test_overwrite_mode_restored_after_writes(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        recs = spark.range(5).select(
            F.lit(8).alias("tile_z"),
            F.lit(1).cast("int").alias("tile_x"),
            F.col("id").cast("int").alias("tile_y"),
            F.concat(F.lit("r"), F.col("id")).alias("record_id"),
        )
        C.write_records_and_checkpoint(
            recs, str(tmp_path / "out"), str(tmp_path / "cp"), run_id="r1"
        )
        assert spark.conf.get(key) == "static"
        C.compact_records(
            spark, str(tmp_path / "out"), 100, sort_col="record_id"
        )
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
