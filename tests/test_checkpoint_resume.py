"""Resume semantics (SURVEY.md §5.2-5, BASELINE.json:14).

Kill-after-K-tiles simulation: complete a subset of tiles, then assert the
resume filter reruns only the remainder and the combined output equals an
uninterrupted run.
"""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.sinks import checkpoint as C
from harvester_fgp_spark.plans.pipeline import mine_records
from harvester_fgp_spark.synth import generate_polygons, pages_df
from tests.conftest import count_jobs


def _records(spark):
    pages = pages_df(spark, 800, seed=42)
    ppdf = generate_polygons(60, seed=42)
    return C.with_tile_id(mine_records(spark, pages, ppdf))


def test_resume_skips_completed_tiles(spark, tmp_path):
    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")

    records = _records(spark)
    tiles = [r.tile_id for r in records.select("tile_id").distinct().collect()]
    assert len(tiles) >= 4
    half = set(tiles[: len(tiles) // 2])

    # run 1 "crashes" after writing half the tiles
    run1 = records.filter(F.col("tile_id").isin(half))
    C.write_records_and_checkpoint(run1, out, cp, run_id="run1")

    done = {r.tile_id for r in C.completed_tiles(spark, cp).collect()}
    assert done == half

    # resume: only the other half is pending
    pending = C.resume_filter(records, spark, cp)
    pending_tiles = {r.tile_id for r in pending.select("tile_id").distinct().collect()}
    assert pending_tiles == set(tiles) - half

    C.write_records_and_checkpoint(pending, out, cp, run_id="run2")

    # final output == uninterrupted run (same rows, all tiles)
    final = spark.read.parquet(out)
    assert final.count() == records.count()
    assert final.select("record_id").exceptAll(records.select("record_id")).count() == 0

    # lineage row counts reconcile with the data
    lineage = spark.read.parquet(cp)
    per_tile_cp = {
        r.tile_id: r.total
        for r in lineage.groupBy("tile_id").agg(F.sum("row_count").alias("total")).collect()
    }
    per_tile_data = {
        r.tile_id: r.cnt
        for r in final.groupBy("tile_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_tile_cp == per_tile_data


def test_rerun_tile_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")
    records = _records(spark)
    one_tile = records.select("tile_id").first().tile_id
    slice1 = records.filter(F.col("tile_id") == one_tile)
    C.write_records_and_checkpoint(slice1, out, cp, run_id="a")
    C.write_records_and_checkpoint(slice1, out, cp, run_id="b")  # replay
    final = spark.read.parquet(out)
    # dynamic partition overwrite: replay does not duplicate rows
    assert final.count() == slice1.count()


def test_verify_lineage_detects_tampering(spark, tmp_path):
    """S5 audit: clean write verifies; a tampered tile is flagged."""
    import shutil
    from pathlib import Path

    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")
    records = _records(spark)
    C.write_records_and_checkpoint(records, out, cp, run_id="audit")
    assert C.verify_lineage(spark, out, cp).count() == 0

    # tamper: drop one tile's data directory entirely
    tile_dirs = sorted(p for p in Path(out).iterdir() if p.name.startswith("tile_id="))
    assert len(tile_dirs) >= 2
    shutil.rmtree(tile_dirs[0])
    bad = C.verify_lineage(spark, out, cp)
    assert bad.count() >= 1  # the deleted tile shows as a discrepancy


def test_verify_lineage_streaming_batches_share_tiles(spark, tmp_path):
    """The streaming sink's output is audited with the plain call: two
    batches that write rows into the SAME tiles must SUM per tile, and a
    replayed batch collapses to its latest commit. The sink's batch_id
    partition column is what tells the audit it is streaming output."""
    out, cp = str(tmp_path / "rec"), str(tmp_path / "cp")
    records = _records(spark)
    odd = F.xxhash64("record_id") % 2 == 0
    b0, b1 = records.filter(odd), records.filter(~odd)
    shared = b0.select("tile_id").intersect(b1.select("tile_id")).count()
    assert shared > 0  # the case a per-tile latest-commit audit gets wrong
    C.write_stream_batch(b0, out, cp, run_id="s", batch_id=0)
    C.write_stream_batch(b1, out, cp, run_id="s", batch_id=1)
    C.write_stream_batch(b1, out, cp, run_id="s", batch_id=1)  # replay
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_compact_records_preserves_data_and_shrinks_files(spark, tmp_path):
    """Compaction: same rows + green lineage audit after, fewer files,
    per-file budget respected, rows clustered by cell within files."""
    import glob
    import os

    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")
    records = _records(spark)
    # force a small-file mess: one file per (tile, shuffle partition)
    C.write_records_and_checkpoint(
        records.repartition(16), out, cp, run_id="run1"
    )

    def _files():
        return [
            f
            for f in glob.glob(os.path.join(out, "tile_id=*", "*.parquet"))
            if os.path.getsize(f) > 0
        ]

    before_rows = spark.read.parquet(out).count()
    before_files = len(_files())

    # target=2 so some tiles genuinely need MULTIPLE files — a larger
    # target made every tile a single group and the budget assertion
    # vacuous (review finding: the old hash-on-(tile,fidx) plan merged
    # colliding same-tile groups into oversized files and still passed)
    target = 2
    C.compact_records(spark, out, target_rows_per_file=target)

    after = spark.read.parquet(out)
    assert after.count() == before_rows
    assert (
        after.select("record_id")
        .exceptAll(records.select("record_id"))
        .count()
        == 0
    )
    after_files = len(_files())
    assert after_files < before_files
    # HARD budget: no single file exceeds target rows
    import pyarrow.parquet as pq

    per_file = [pq.read_metadata(f).num_rows for f in _files()]
    assert max(per_file) <= target
    # exact per-tile file count: ceil(rows / target), and some tile >1
    per_tile = {
        r["tile_id"]: r["n"]
        for r in after.groupBy("tile_id").agg(F.count("*").alias("n")).collect()
    }
    import math

    expected = sum(math.ceil(n / target) for n in per_tile.values())
    assert after_files == expected
    assert any(n > target for n in per_tile.values())
    # lineage audit still green: same rows/fingerprints per tile
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_vacuum_checkpoint_preserves_audit_semantics(spark, tmp_path):
    """After idempotent replays bloat the lineage table, vacuuming keeps
    the audit green, shrinks the table to one commit per (run, tile),
    and the resume filter still sees every completed tile."""
    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")
    records = _records(spark)
    C.write_records_and_checkpoint(records, out, cp, run_id="run1")
    C.write_records_and_checkpoint(records, out, cp, run_id="run1")  # replay
    C.write_records_and_checkpoint(records, out, cp, run_id="run2")  # rerun

    n_tiles = records.select("tile_id").distinct().count()
    assert spark.read.parquet(cp).count() > n_tiles  # bloated
    assert C.verify_lineage(spark, out, cp).count() == 0

    C.vacuum_checkpoint(spark, cp)

    after = spark.read.parquet(cp)
    # safe grain: ONE commit per (run, tile) — run1's replay collapsed,
    # run2's rerun preserved as its own commit (never merged across runs)
    assert (
        after.groupBy("run_id", "tile_id")
        .agg(F.count_distinct("completed_at").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    assert {r.run_id for r in after.select("run_id").distinct().collect()} == {
        "run1", "run2"
    }
    assert C.verify_lineage(spark, out, cp).count() == 0
    done = {r.tile_id for r in C.completed_tiles(spark, cp).collect()}
    assert len(done) == n_tiles


def _tokenless_append(spark, cp):
    """Append a copy of the lineage rows as a pre-commit_token writer
    would have written them (no commit_token column)."""
    legacy = C._read_checkpoint(spark, cp).drop("commit_token")
    legacy.write.mode("append").parquet(cp)


def test_latest_commits_tokenless_legacy_rows(spark, tmp_path):
    """Lineage files written before commit_token existed read it as
    NULL, which orders as the empty token: among themselves the later
    tick still wins."""
    t1 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    t2 = datetime.datetime(2026, 1, 1, 12, 0, 1)
    cp = str(tmp_path / "cp")
    spark.createDataFrame(
        [("r1", "records", 0, 7, 10, "aa", t1), ("r1", "records", 0, 7, 20, "ab", t2)],
        "run_id string, stage string, partition_id int, tile_id long, "
        "row_count long, input_fingerprint string, completed_at timestamp",
    ).write.parquet(cp)
    legacy = C._read_checkpoint(spark, cp)
    assert legacy.columns == list(C.CHECKPOINT_COLS)
    reduced = C._latest_commits(legacy, ["tile_id"]).collect()
    assert len(reduced) == 1 and reduced[0]["row_count"] == 20
    assert reduced[0]["commit_token"] is None


def test_mixed_schema_checkpoint_audit_stays_green(spark, tmp_path):
    """Legacy (tokenless) lineage files next to tokened files in one dir:
    the audit must still see commit_token on the tokened rows and reduce
    the doubled commit away — zero discrepancies."""
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    C.write_records_and_checkpoint(_records(spark), out, cp, "r1")
    _tokenless_append(spark, cp)
    assert C.verify_lineage(spark, out, cp).count() == 0
    # and vacuum (same declared-schema read) collapses to one commit's rows
    n_before = C._read_checkpoint(spark, cp).count()
    C.vacuum_checkpoint(spark, cp)
    assert C._read_checkpoint(spark, cp).count() < n_before
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_mixed_schema_tokens_not_dropped(spark, tmp_path):
    """The declared-schema read of a mixed dir: tokened rows keep their
    token whichever file a read would have sampled, legacy rows read as
    NULL."""
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    C.write_records_and_checkpoint(_records(spark), out, cp, "r1")
    _tokenless_append(spark, cp)
    toks = [
        r.commit_token
        for r in C._read_checkpoint(spark, cp).select("commit_token").collect()
    ]
    assert any(t is None for t in toks) and any(t for t in toks)


def test_layout_check_non_local_uri_uses_hadoop_fs(spark, tmp_path):
    """Layout enforcement lists the checkpoint dir through the Hadoop
    FileSystem API (Hadoop's LocalFileSystem here; HDFS or an object
    store in production), so it resolves the path as the write does."""
    d = tmp_path / "cp"
    (d / "stage=records").mkdir(parents=True)
    (d / "stage=records" / "part-0.parquet").write_bytes(b"")

    # partitioned dir + flat write -> must raise
    with pytest.raises(ValueError, match="partitioned but this write is flat"):
        C._check_lineage_layout(str(d), False, spark)
    # matching layout passes; missing dir passes
    C._check_lineage_layout(str(d), True, spark)
    C._check_lineage_layout(str(tmp_path / "absent"), True, spark)


def test_read_checkpoint_runs_no_job(spark, tmp_path):
    """The lineage table is read with its declared schema: building the
    read runs no footer/schema-merge job, in either layout."""
    recs = _records(spark)
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    C.write_records_and_checkpoint(recs, str(tmp_path / "o1"), flat, "r1")
    C.write_records_and_checkpoint(
        recs, str(tmp_path / "o2"), part, "r1", partition_lineage=True
    )
    for cp in (flat, part):
        assert count_jobs(spark, lambda cp=cp: C._read_checkpoint(spark, cp)) == 0


def test_resume_filter_raises_on_unreadable_lineage(spark, tmp_path):
    """Only an absent checkpoint dir means "nothing done": an unreadable
    lineage file, or a plain file where the dir should be, fails the
    resume instead of silently re-running every pending tile."""
    pending = spark.range(20).select(F.col("id").alias("tile_id"))
    absent = str(tmp_path / "absent")
    assert C.resume_filter(pending, spark, absent).count() == 20

    damaged = tmp_path / "damaged"
    damaged.mkdir()
    (damaged / "part-00000.parquet").write_bytes(b"not parquet")
    plain = tmp_path / "plain"
    plain.write_bytes(b"not a directory")
    for cp in (damaged, plain):
        with pytest.raises(Exception):
            C.resume_filter(pending, spark, str(cp)).count()


@pytest.mark.parametrize("flags", [["--tile-z", "6"], ["--partition-lineage"]])
def test_stream_refuses_batch_only_flags(flags):
    """--stream returns before the batch steps, so a batch-only flag
    would be silently ignored: the CLI refuses it instead."""
    from jobs.run_pipeline import parse_args

    base = ["--pages", "p", "--out", "o", "--checkpoint", "c", "--run-id", "r"]
    assert parse_args(base + ["--stream"]).stream
    assert not parse_args(base + flags).stream
    with pytest.raises(SystemExit):
        parse_args(base + ["--stream", *flags])


def test_verify_lineage_builds_without_a_job(spark, tmp_path):
    """The audit reads the record output with a declared schema: building
    it runs no footer/schema-inference job, in either sink's layout, and
    the audit stays green on both."""
    recs = spark.range(40).select(
        F.sha2(F.col("id").cast("string"), 256).alias("record_id"),
        (F.col("id") % 3).cast("int").alias("tile_z"),
        F.lit(1).alias("tile_x"),
        F.lit(2).alias("tile_y"),
    )
    batch_out, batch_cp = str(tmp_path / "b_out"), str(tmp_path / "b_cp")
    C.write_records_and_checkpoint(recs, batch_out, batch_cp, "r1")
    stream_out, stream_cp = str(tmp_path / "s_out"), str(tmp_path / "s_cp")
    C.write_stream_batch(recs, stream_out, stream_cp, "s", batch_id=0)
    for out, cp in ((batch_out, batch_cp), (stream_out, stream_cp)):
        assert count_jobs(spark, lambda out=out, cp=cp: C.verify_lineage(spark, out, cp)) == 0
        assert C.verify_lineage(spark, out, cp).count() == 0
