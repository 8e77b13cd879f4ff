"""Regression tests for the round-3 ADVICE findings.

1. verify_lineage must NOT flag idempotent replays / reruns: the data
   write overwrites tiles in place while lineage rows append, so the
   audit has to reduce to the latest commit before aggregating.
2. stream_dedup_first_seen must emit the MIN warc_ts of the trigger, not
   an arbitrary chunk's first row (shuffle-order nondeterminism).
3. minhash_near_dup_pairs on a duplicate-heavy corpus — where the
   candidate pair set outgrows MAX_BROADCAST_PAIRS and the verify join
   plans shuffled — must return the identical pairs.
4. The A4 centroid kernel's centi-degree rounding breaks ties exactly
   like the DuckDB oracle's FLOOR(x*100 + 0.5) longhand.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.sinks import checkpoint as C
from harvester_fgp_spark.plans.pipeline import mine_records
from harvester_fgp_spark.synth import generate_polygons, pages_df


def _records(spark):
    pages = pages_df(spark, 600, seed=42)
    return C.with_tile_id(mine_records(spark, pages, generate_polygons(50, seed=42)))


def test_verify_lineage_clean_after_idempotent_replay(spark, tmp_path):
    """ADVICE repro: same records written twice (same run_id) used to
    double cp_rows and xor fingerprints to 0 — a hard audit failure on
    data that is correct. The latest-commit reduction must keep it clean."""
    out, cp = str(tmp_path / "rec"), str(tmp_path / "cp")
    records = _records(spark)
    C.write_records_and_checkpoint(records, out, cp, run_id="run1")
    C.write_records_and_checkpoint(records, out, cp, run_id="run1")  # replay
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_verify_lineage_clean_after_new_run_rerun(spark, tmp_path):
    """Batch rerun under a NEW run_id: dynamic overwrite means the last
    writer owns each tile directory; the audit keeps the latest commit
    per tile regardless of run_id."""
    out, cp = str(tmp_path / "rec"), str(tmp_path / "cp")
    records = _records(spark)
    C.write_records_and_checkpoint(records, out, cp, run_id="a")
    C.write_records_and_checkpoint(records, out, cp, run_id="b")
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_verify_lineage_streaming_replayed_batch(spark, tmp_path):
    """Streaming grain: batches SUM per tile, but a replayed batch (same
    "<run>-b<N>" run_id) collapses to its latest commit."""
    out, cp = str(tmp_path / "rec"), str(tmp_path / "cp")
    records = _records(spark)
    one_tile = records.select("tile_id").first().tile_id
    b0 = records.filter(F.col("tile_id") == one_tile)
    b1 = records.filter(F.col("tile_id") != one_tile)
    C.write_stream_batch(b0, out, cp, run_id="s", batch_id=0)
    C.write_stream_batch(b1, out, cp, run_id="s", batch_id=1)
    C.write_stream_batch(b1, out, cp, run_id="s", batch_id=1)  # replayed batch
    assert C.verify_lineage(spark, out, cp).count() == 0


def test_stream_first_seen_emits_min_warc_ts(spark, tmp_path):
    """The emitted timestamp is the minimum event time of the trigger —
    deterministic across shuffles/replays — not whichever Arrow chunk
    arrived first."""
    from harvester_fgp_spark.schemas import PAGES_SCHEMA
    from harvester_fgp_spark.streaming.pipeline import (
        read_pages_stream,
        stream_dedup_first_seen,
    )

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {
            "url": ["u://x"] * 4,
            # later timestamps FIRST in file order
            "warc_ts": [
                pd.Timestamp("2024-01-09"),
                pd.Timestamp("2024-01-07"),
                pd.Timestamp("2024-01-02"),
                pd.Timestamp("2024-01-05"),
            ],
            "html": [None] * 4,
            "text": ["x"] * 4,
            "lang": ["en"] * 4,
        }
    )
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).repartition(3).write.mode(
        "overwrite"
    ).parquet(src)

    q = (
        stream_dedup_first_seen(read_pages_stream(spark, src))
        .writeStream.format("memory")
        .queryName("first_seen_min")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select url, warc_ts from first_seen_min").collect()
    assert len(rows) == 1
    assert rows[0].warc_ts == pd.Timestamp("2024-01-02")


def test_minhash_unbroadcast_candidates_identical(spark, sf_dir, monkeypatch):
    from harvester_fgp_spark.operators import dedup

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    corpus = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10000))
    a = dedup.minhash_near_dup_pairs(corpus).collect()
    monkeypatch.setattr(dedup, "MAX_BROADCAST_PAIRS", 0)
    b = dedup.minhash_near_dup_pairs(corpus).collect()
    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) >= 100  # the planted duplicates are found


def test_centroid_tie_break_matches_oracle_floor(spark):
    """lat*100 on an exact .5 tie: np.rint would round half-to-even (212),
    the oracle's ROUND half-away (213). Both sides now use
    floor(x*100 + 0.5): +tie -> up, -tie -> toward +inf, identically."""
    from harvester_fgp_spark.operators.groupstats import tile_group_stats

    df = spark.createDataFrame(
        [(1, 2, 2.125, -2.125), (1, 2, 2.125, -2.125)],
        "tile_x long, tile_y long, lat double, lon double",
    )
    out = tile_group_stats(df).first()
    assert out["centroid_lat"] == 213 / 100.0  # floor(212.5+0.5)=213
    assert out["centroid_lon"] == -212 / 100.0  # floor(-212.0)=-212
