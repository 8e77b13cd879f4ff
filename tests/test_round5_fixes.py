"""Round-5 advice fixes (ADVICE.md, judged round 4):

1. medium — mixed pre-/post-commit_token lineage files: now read with
   the declared schema, tested in tests/test_checkpoint_resume.py.
2. low — vacuum URI normalization: 'file:/path' (Hadoop style) passed the
   old '://' guard unstripped; 'file://host/path' stripped to the relative
   path 'host/path'.
3. low — eps_neighbor_pairs interpolates eps into int64 SQL: float eps
   fails analysis, eps <= 0 yields NULL cell keys (everything noise).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.operators.cluster import dbscan, eps_neighbor_pairs
from harvester_fgp_spark.sinks import checkpoint as CP
from harvester_fgp_spark.plans.pipeline import mine_records
from harvester_fgp_spark.synth import generate_polygons, pages_df


def _records(spark):
    return CP.with_tile_id(
        mine_records(
            spark, pages_df(spark, 300, seed=42), generate_polygons(60, seed=42)
        )
    )


def test_vacuum_uri_normalization(spark, tmp_path):
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    CP.write_records_and_checkpoint(_records(spark), out, cp, "r1")
    # Hadoop-style file:/path (single slash) must normalize, not crash
    CP.vacuum_checkpoint(spark, f"file:{cp}")
    assert os.path.isdir(cp)
    assert CP.verify_lineage(spark, out, cp).count() == 0
    # triple-slash canonical form
    CP.vacuum_checkpoint(spark, f"file://{cp}")  # empty authority
    CP.vacuum_checkpoint(spark, f"file:///{cp.lstrip('/')}")
    assert CP.verify_lineage(spark, out, cp).count() == 0
    with pytest.raises(ValueError):
        CP.vacuum_checkpoint(spark, "s3a://bucket/cp")
    with pytest.raises(ValueError):
        CP.vacuum_checkpoint(spark, "hdfs://nn/cp")
    with pytest.raises(ValueError):
        CP.vacuum_checkpoint(spark, "file://remotehost/cp")


def _leaf_state(d):
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in sorted(os.listdir(d))
    }


def test_partitioned_vacuum_touches_only_target_runs(spark, tmp_path):
    """Round-5 scale story: a partition_lineage=True checkpoint table is
    vacuumed per (stage, run) leaf — a runs=['r1'] vacuum must collapse
    r1's replayed commits while r2's partition directory is not read,
    rewritten, or even touched (same files, same mtimes)."""
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    recs = _records(spark)
    CP.write_records_and_checkpoint(
        recs, out, cp, "r1", partition_lineage=True
    )
    CP.write_records_and_checkpoint(  # replay: appends a 2nd r1 commit
        recs, out, cp, "r1", partition_lineage=True
    )
    CP.write_records_and_checkpoint(
        recs, out, cp, "r2", partition_lineage=True
    )
    assert CP.verify_lineage(spark, out, cp).count() == 0
    full = spark.read.parquet(cp)
    n_r1 = full.filter(F.col("run_id") == "r1").count()
    n_r2 = full.filter(F.col("run_id") == "r2").count()
    assert n_r1 == 2 * n_r2  # the replay doubled r1's lineage rows

    r2_leaf = os.path.join(cp, "stage=records", "run_id=r2")
    r2_before = _leaf_state(r2_leaf)
    CP.vacuum_checkpoint(spark, cp, runs=["r1"])
    assert _leaf_state(r2_leaf) == r2_before  # untouched, byte for byte
    full = spark.read.parquet(cp)
    assert full.filter(F.col("run_id") == "r1").count() == n_r2  # collapsed
    assert full.filter(F.col("run_id") == "r2").count() == n_r2
    assert CP.verify_lineage(spark, out, cp).count() == 0


def test_partitioned_vacuum_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves the only copy of a
    leaf under .vacuum-old-<leaf>; the next vacuum of that stage must
    restore it before doing anything else — even when targeting other
    runs."""
    import shutil

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    CP.write_records_and_checkpoint(
        _records(spark), out, cp, "r1", partition_lineage=True
    )
    CP.write_records_and_checkpoint(
        _records(spark), out, cp, "r2", partition_lineage=True
    )
    spath = os.path.join(cp, "stage=records")
    leaf = os.path.join(spath, "run_id=r1")
    shutil.move(leaf, os.path.join(spath, ".vacuum-old-run_id=r1"))
    # vacuum a DIFFERENT run: the sweep must still restore r1's leaf
    CP.vacuum_checkpoint(spark, cp, runs=["r2"])
    assert os.path.isdir(leaf)
    assert CP.verify_lineage(spark, out, cp).count() == 0


def test_runs_filter_requires_partitioned_dir(spark, tmp_path):
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    CP.write_records_and_checkpoint(_records(spark), out, cp, "r1")
    with pytest.raises(ValueError):
        CP.vacuum_checkpoint(spark, cp, runs=["r1"])


def test_eps_guard(spark):
    import numpy as np

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 1), (3, 50, 50)], "pid long, x long, y long"
    )
    assert eps_neighbor_pairs(pts, 2).count() == 2  # directed pair both ways
    # numpy integers (array math results) are true integers — accepted
    assert eps_neighbor_pairs(pts, np.int64(2)).count() == 2
    for bad in (2.5, 0, -3, True, np.float64(2.0)):
        with pytest.raises(ValueError):
            eps_neighbor_pairs(pts, bad)
        with pytest.raises(ValueError):
            dbscan(pts, eps=bad, min_pts=2)


def test_vacuum_runs_with_hive_escaped_run_id(spark, tmp_path):
    """run_ids with partition-path special chars (':') are Hive-escaped
    in directory names; runs= must still target them (round-5 review:
    the raw comparison made such a vacuum a silent no-op), and an
    unmatched run_id must raise instead of silently skipping."""
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    rid = "2026-08-17T10:00"
    recs = _records(spark)
    CP.write_records_and_checkpoint(
        recs, out, cp, rid, partition_lineage=True
    )
    CP.write_records_and_checkpoint(  # replay
        recs, out, cp, rid, partition_lineage=True
    )
    n2 = spark.read.parquet(cp).count()
    CP.vacuum_checkpoint(spark, cp, runs=[rid])
    assert spark.read.parquet(cp).count() == n2 // 2  # actually vacuumed
    assert CP.verify_lineage(spark, out, cp).count() == 0
    with pytest.raises(ValueError, match="matched no partition"):
        CP.vacuum_checkpoint(spark, cp, runs=["no-such-run"])


def test_mixed_lineage_layout_refused(spark, tmp_path):
    """Appending the other layout into an existing checkpoint dir would
    corrupt it for every future read — the writers must refuse."""
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    recs = _records(spark)
    CP.write_records_and_checkpoint(recs, out, cp, "r1")  # flat
    with pytest.raises(ValueError, match="flat"):
        CP.write_records_and_checkpoint(
            recs, out, cp, "r2", partition_lineage=True
        )
    out2, cp2 = str(tmp_path / "out2"), str(tmp_path / "cp2")
    CP.write_records_and_checkpoint(
        recs, out2, cp2, "r1", partition_lineage=True
    )
    with pytest.raises(ValueError, match="partitioned"):
        CP.write_records_and_checkpoint(recs, out2, cp2, "r2")
    with pytest.raises(ValueError, match="partitioned"):
        CP.write_stream_batch(recs, out2, cp2, "r2", batch_id=0)
