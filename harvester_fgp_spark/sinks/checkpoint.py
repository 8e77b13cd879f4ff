"""Checkpoint / lineage / resume (SURVEY.md §2.1 S4-S6, BASELINE.json:14).

Contract: "every partition emits lineage + row-count metrics to a
checkpoint table so a killed job resumes without recomputing completed
tiles."

Design (tile-grain idempotence, SURVEY §7.4-5):
- The unit of work is a packed tile id. Output is written
  `partitionBy(tile_id)`, and a tile's directory is only ever written by
  jobs that then append a completion row to the checkpoint table — the
  commit marker. Rerunning a tile overwrites its partition directory
  (dynamic partition overwrite), so replays are idempotent.
- Resume = anti-join pending tiles against completed tile ids (S6) —
  a tiny broadcast anti-join, no recomputation of done work.
- Lineage rows carry (run_id, stage, partition_id, tile_id, row_count,
  input_fingerprint): the fingerprint is a xor/sum-based order-insensitive
  digest of record ids, so a resumed run can verify it reproduced the
  same input slice without sorting anything.

Locally this uses plain Parquet; on a real cluster the same calls target
an Iceberg table where the append IS the atomic commit — the swap is a
config, not a code path (SURVEY §4 conclusion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.geo import packed_tile_col
from ..schemas import CHECKPOINT_SCHEMA
from ..sources.tables import local_table, visible_entries

CHECKPOINT_COLS = tuple(CHECKPOINT_SCHEMA.fieldNames())
# the stage=/run_id= layout keeps these in directory names, not in files
LINEAGE_PARTITION_COLS = ("stage", "run_id")


def _overwrite_mode_dynamic(spark: SparkSession):
    """Context manager: set partitionOverwriteMode=dynamic for one write
    and RESTORE the caller's value after (round-3 advice: leaving it set
    silently changes any later static partition overwrite on the shared
    session)."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        key = "spark.sql.sources.partitionOverwriteMode"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "dynamic")
        try:
            yield
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)

    return _cm()


def with_tile_id(records: DataFrame) -> DataFrame:
    return records.withColumn(
        "tile_id",
        packed_tile_col(F.col("tile_z"), F.col("tile_x"), F.col("tile_y")),
    )


def lineage_rows(records: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-(partition, tile) lineage metrics — all native aggregation.

    spark_partition_id is evaluated before the groupBy shuffle, so the
    row records which input partition produced the tile's rows; the
    fingerprint is bit-xor of record-id hashes (order-insensitive).

    ``commit_token`` is a fresh driver-side UUID per write call — all
    rows of one commit share it, and no two commits can share it. The
    audit/vacuum latest-commit reduction breaks completed_at ties on it
    (round-3 advice: two commits to the same tile landing in the same
    current_timestamp tick otherwise BOTH survive the reduction — doubled
    cp_rows, xor'd fingerprints, a false audit red on correct data).
    """
    import uuid

    return (
        records.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id", "tile_id")
        .agg(
            F.count("*").alias("row_count"),
            F.format_string(
                "%016x", F.bit_xor(F.xxhash64(F.col("record_id")))
            ).alias("input_fingerprint"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("completed_at", F.current_timestamp())
        .withColumn("commit_token", F.lit(uuid.uuid4().hex))
        .select(*CHECKPOINT_COLS)
    )


def _read_checkpoint(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The lineage table, read with its declared ``CHECKPOINT_SCHEMA``
    in ``CHECKPOINT_COLS`` order: no footer job, rows from files written
    before ``commit_token`` existed read it as NULL, and in the
    ``stage=/run_id=`` layout both stay STRING (a run_id like '0123'
    would otherwise infer as an int)."""
    return (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(checkpoint_dir)
        .select(*CHECKPOINT_COLS)
    )


def _latest_commits(cp: DataFrame, keys: list[str]) -> DataFrame:
    """Reduce lineage rows to the LATEST commit per key group: max by
    (completed_at, commit_token) — the struct max is lexicographic, so
    equal-tick commits resolve deterministically to ONE whole commit
    instead of keeping both (see lineage_rows on commit_token). A
    legacy row's NULL token orders as '', before any real token, so a
    tokened rewrite in the same tick wins."""
    tagged = cp.withColumn(
        "_cmt",
        F.struct(
            F.col("completed_at"),
            F.coalesce(F.col("commit_token"), F.lit("")),
        ),
    )
    latest = tagged.groupBy(*keys).agg(F.max("_cmt").alias("_cmt"))
    return tagged.join(latest, [*keys, "_cmt"], "left_semi").drop("_cmt")


def _check_lineage_layout(
    checkpoint_dir: str, partition_lineage: bool, spark: SparkSession
) -> None:
    """A checkpoint dir must be flat or partitioned from its first write
    — Spark cannot read a mix (conflicting directory structures), and
    vacuum's layout detection would then strand the flat files forever.
    Enforced here rather than by docstring (round-5 review): appending
    the wrong layout corrupts the table silently until the next read.

    The listing goes through the session's Hadoop FileSystem
    (``visible_entries``), which resolves the path with the same
    configuration the subsequent write uses, so the two can never
    disagree about which directory they mean — on a local disk, HDFS or
    an object store alike.
    """
    entries = visible_entries(spark, checkpoint_dir)
    if not entries:
        return
    existing_partitioned = any(e.startswith("stage=") for e in entries)
    if existing_partitioned != partition_lineage:
        have = "partitioned" if existing_partitioned else "flat"
        want = "partitioned" if partition_lineage else "flat"
        raise ValueError(
            f"checkpoint dir {checkpoint_dir!r} is {have} but this write "
            f"is {want}: a lineage table must keep one layout from its "
            "first write (mixing breaks spark.read.parquet and vacuum)"
        )


def write_records_and_checkpoint(
    records: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str,
    stage: str = "records",
    partition_lineage: bool = False,
) -> None:
    """S4 + S5: partition-by-tile output, then the commit-marker append.

    Write order is the crash-safety argument: data first, marker second;
    a crash between the two leaves an uncommitted tile that the resume
    filter will redo (overwrite — idempotent).

    `tiled` is persisted across the two writes so the lineage rows are
    computed from the SAME materialization as the parquet data — without
    it, any upstream nondeterminism (rand-based salting, sampling) could
    commit fingerprints that disagree with the files actually written.

    ``partition_lineage=True`` (round 5) lays the checkpoint table out
    as ``stage=<s>/run_id=<r>/`` Hive partitions — the 100 TB shape: at
    10^7 tiles x many runs the append-only table's maintenance must not
    be whole-table, and the partitioned layout lets vacuum_checkpoint
    rewrite ONLY affected (stage, run) partitions while reads stay
    identical (partition columns are recovered from the directory
    names). A checkpoint dir must be flat or partitioned from its first
    write — Spark cannot read a mix.

    Directory-count note (measured round 5): the RECORD sink's
    tile-grain ``partitionBy(tile_id)`` means an 8M-page run at z=8
    writes tens of thousands of partition directories (~4 GB output) —
    fine on HDFS/object stores, slow on a single local disk. That
    fan-out is the price of tile-grain idempotent overwrite and is
    exactly what ``compact_records`` and, in production, the Iceberg
    table (partition transforms + rewrite_data_files, see
    sources/tables.py) exist to manage; coarsening the partition key
    would widen the overwrite blast radius and silently break
    tile-grain replay, so it is deliberately NOT offered as a knob.
    """
    spark = records.sparkSession
    _check_lineage_layout(checkpoint_dir, partition_lineage, spark)
    tiled = with_tile_id(records).persist()
    try:
        with _overwrite_mode_dynamic(spark):
            tiled.write.mode("overwrite").partitionBy("tile_id").parquet(
                out_dir
            )
            lw = lineage_rows(tiled, run_id, stage).write.mode("append")
            if partition_lineage:
                lw = lw.partitionBy(*LINEAGE_PARTITION_COLS)
            lw.parquet(checkpoint_dir)
    finally:
        tiled.unpersist()


def write_stream_batch(
    records: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str,
    batch_id: int,
    stage: str = "records",
    partition_lineage: bool = False,
) -> None:
    """Streaming S4: per-micro-batch sink with exactly-once-per-(tile,batch).

    Tiles SPAN micro-batches, so the batch sink's overwrite-by-tile would
    erase earlier batches' rows in the same tile. Here the partition key is
    (tile_id, batch_id): dynamic overwrite touches only THIS batch's
    partitions, so a replayed batch (streaming restart) overwrites its own
    previous partial output and never another batch's rows.
    """
    spark = records.sparkSession
    _check_lineage_layout(checkpoint_dir, partition_lineage, spark)
    tiled = (
        with_tile_id(records)
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .persist()
    )
    try:
        with _overwrite_mode_dynamic(spark):
            tiled.write.mode("overwrite").partitionBy(
                "tile_id", "batch_id"
            ).parquet(out_dir)
            lw = lineage_rows(
                tiled, f"{run_id}-b{batch_id}", stage
            ).write.mode("append")
            if partition_lineage:
                lw = lw.partitionBy(*LINEAGE_PARTITION_COLS)
            lw.parquet(checkpoint_dir)
    finally:
        tiled.unpersist()


def verify_lineage(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    stage: str = "records",
) -> DataFrame:
    """Audit: recompute per-tile row counts + fingerprints from the parquet
    actually on disk and anti-check them against the committed lineage.

    Returns the DISCREPANCY frame — empty means every committed tile's
    bytes reproduce its commit marker (the resume-trust invariant). Tiles
    are compared at tile grain (lineage rows are per (partition, tile);
    they are re-aggregated here because the on-disk layout no longer knows
    producing partitions). Works on either sink's output: the streaming
    sink's ``batch_id`` partition column tells the two apart.

    The output is read with a declared schema of the one file column the
    audit hashes (``record_id``) and the ``tile_id`` partition, so
    building the audit runs no footer job. Partition discovery is the
    driver-side listing and still adds the streaming sink's ``batch_id=``
    level to the columns.
    """
    disk = spark.read.schema("record_id string, tile_id long").parquet(out_dir)
    per_batch = "batch_id" in disk.columns
    written = (
        disk.groupBy("tile_id")
        .agg(
            F.count("*").alias("disk_rows"),
            F.format_string(
                "%016x", F.bit_xor(F.xxhash64(F.col("record_id")))
            ).alias("disk_fp"),
        )
    )
    # A replayed/rerun tile (idempotent by design: the data write
    # overwrites the same (tile) / (tile, batch) partitions in place)
    # APPENDS a second set of lineage rows while leaving one copy of the
    # data, so naive aggregation doubles cp_rows and xors fingerprints to
    # 0 — flagging data that is actually correct. Reduce to the LATEST
    # commit first: all rows of one commit share completed_at
    # (current_timestamp is constant per write query), so keeping the
    # max(completed_at) rows keeps exactly one commit's partition rows,
    # even when the replay partitioned the data differently.
    #   batch sink (no batch_id on disk): latest commit per tile_id —
    #     dynamic overwrite means the last writer owns the whole tile
    #     directory, whatever its run_id (covers same-run replays AND
    #     new-run reruns).
    #   streaming sink (partitioned by (tile_id, batch_id)): latest
    #     commit per (run_id, tile_id); batch_id is encoded in run_id
    #     ("<run>-b<N>") and tiles legitimately accumulate rows across
    #     batches, so batches must still SUM while each batch's replays
    #     collapse.
    cp = _read_checkpoint(spark, checkpoint_dir).filter(F.col("stage") == stage)
    keys = ["run_id", "tile_id"] if per_batch else ["tile_id"]
    committed = (
        _latest_commits(cp, keys)
        .groupBy("tile_id")
        .agg(
            F.sum("row_count").alias("cp_rows"),
            # xor of per-partition xors == xor over the whole tile;
            # conv(..., 16, -10) keeps the high-bit patterns signed so the
            # long cast cannot overflow
            F.bit_xor(F.conv(F.col("input_fingerprint"), 16, -10).cast("long"))
            .alias("cp_fp_long"),
        )
        .withColumn("cp_fp", F.format_string("%016x", F.col("cp_fp_long")))
        .drop("cp_fp_long")
    )
    return (
        written.join(committed, "tile_id", "full")
        .filter(
            (F.col("disk_rows") != F.col("cp_rows"))
            | (F.col("disk_fp") != F.col("cp_fp"))
            | F.col("disk_rows").isNull()
            | F.col("cp_rows").isNull()
        )
    )


def completed_tiles(spark: SparkSession, checkpoint_dir: str, stage: str = "records") -> DataFrame:
    """Tile ids committed for ``stage``. Only an absent checkpoint dir
    means nothing is done: a damaged table fails the read instead of
    resuming from nothing."""
    if visible_entries(spark, checkpoint_dir) is None:
        return local_table(spark, [], "tile_id long")
    cp = _read_checkpoint(spark, checkpoint_dir)
    return cp.filter(F.col("stage") == stage).select("tile_id").distinct()


def resume_filter(
    pending: DataFrame,
    spark: SparkSession,
    checkpoint_dir: str,
    stage: str = "records",
) -> DataFrame:
    """S6: drop tiles already committed (left-anti join on tile_id).

    The completed-tile set is always broadcast: up to ~10^7 distinct
    8-byte tile ids is tens of MB, and the pending side streams through
    one broadcast hash anti-join."""
    done = completed_tiles(spark, checkpoint_dir, stage)
    return pending.join(F.broadcast(done), "tile_id", "left_anti")


def compact_records(
    spark: SparkSession,
    out_dir: str,
    target_rows_per_file: int = 1_000_000,
    sort_col: str = "cell_id",
    cluster: str = "morton",
) -> None:
    """Small-file COMPACTION for the record sink (the operational chore a
    per-tile streaming/incremental writer makes unavoidable at 100 TB:
    thousands of micro-batch commits x thousands of tiles = millions of
    kilobyte files, and the NameNode/S3-listing + per-file open cost
    eventually dwarfs the scan itself).

    Per tile: rewrite into ceil(rows / target_rows_per_file) files with
    rows sorted by ``sort_col`` within each file, so parquet row-group
    min/max stats become selective for cell-prefix predicates (the
    dominant read pattern) — compaction and clustering in one rewrite.
    The default sort key (cell_id) is the Morton code, so this IS
    Z-order clustering: one-dimensional sort order that keeps both lat
    and lon locality inside every row group. ``cluster="hilbert"``
    (round 7) sorts by the level-8 Hilbert id of each record's point
    (bbox records fall back to their wrap-aware bbox center) as a sort
    EXPRESSION — the output schema is untouched, and bbox range scans
    over the compacted table touch fewer row groups than under Morton
    (measured 12/123 vs 16/123 at 8M rows, bench_hilbert_scan.py; the
    same clustering-metric win as the 8.1-vs-14.3 runs/window number).

    The per-tile file budget is enforced STRUCTURALLY, not by hashing:
    repartition on tile_id puts a tile's rows in exactly one task, and
    ``maxRecordsPerFile`` makes the writer roll a new file every
    ``target`` rows — hashing a computed file index instead (the obvious
    alternative) silently merges colliding same-tile groups into
    oversized files. Dynamic partition overwrite swaps tiles atomically;
    the checkpoint table is untouched (same rows, same fingerprints —
    the lineage audit stays green across a compaction by construction).
    """
    # the rewrite keeps every column, so it reads the files' own schema
    # (one footer job); verify_lineage declares the two columns it reads
    df = spark.read.parquet(out_dir)
    drop_cols: list = []
    if cluster == "hilbert":
        from ..operators.geo import bbox_center_lon_col, with_hilbert

        # with_hilbert stages one projection per level, so the plan
        # stays linear (a single expression would triple per level and
        # take Janino minutes at level 8); the helper columns are
        # dropped before the write, so the output schema is unchanged
        df = df.withColumn(
            "_hlat",
            F.coalesce(
                F.col("lat"), (F.col("south") + F.col("north")) / F.lit(2.0)
            ),
        ).withColumn(
            "_hlon",
            F.coalesce(
                F.col("lon"),
                bbox_center_lon_col(F.col("west"), F.col("east")),
            ),
        )
        df = with_hilbert(df, "_hlon", "_hlat", level=8, out="_hsort")
        sort_key = F.col("_hsort")
        drop_cols = ["_hlat", "_hlon", "_hsort"]
    elif cluster == "morton":
        sort_key = F.col(sort_col)
    else:
        raise ValueError("cluster must be 'morton' or 'hilbert'")
    compacted = (
        df.repartition(F.col("tile_id"))
        .sortWithinPartitions(F.col("tile_id"), sort_key)
        .drop(*drop_cols)
        # Spark refuses to overwrite a path that its own plan reads
        # (analysis-time check; persist does NOT lift it). localCheckpoint
        # cuts the lineage to a materialized base, making the in-place
        # rewrite legal. That stages the data in executor storage — fine
        # for the path-based sink here; against the Iceberg catalog the
        # production form of this whole function is the
        # rewrite_data_files/rewrite procedure through the S1 seam
        # (sources/tables.py), which commits a new snapshot instead.
        .localCheckpoint()
    )
    with _overwrite_mode_dynamic(spark):
        (
            compacted.write.mode("overwrite")
            .option("maxRecordsPerFile", target_rows_per_file)
            .partitionBy("tile_id")
            .parquet(out_dir)
        )


def _local_path(uri: str) -> str:
    """Normalize a checkpoint-dir argument to an os-level local path, or
    refuse (round-4 advice): the naive '://'+removeprefix guard let the
    Hadoop-style 'file:/path' form through unstripped and mangled
    'file://host/path' into the relative path 'host/path'. urlparse
    handles all three file-URI shapes; any non-file scheme (s3a, hdfs,
    ...) is rejected because the vacuum swap is os-rename-based."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme == "":
        return uri  # plain local path
    if parsed.scheme != "file":
        raise ValueError(
            "vacuum_checkpoint swaps directories with local renames and "
            f"cannot operate on non-local URIs: {uri!r}"
        )
    if parsed.netloc not in ("", "localhost"):
        raise ValueError(
            f"file URI with a remote authority is not local: {uri!r}"
        )
    return unquote(parsed.path)


def _vacuum_swap(
    spark: SparkSession, d: str, keys: list[str], tmp: str, old: str
) -> None:
    """Reduce one directory to its latest commits per ``keys`` and swap
    it in place (temp-write + two renames; crash between the renames
    auto-recovers on the next call by restoring ``old``). A partition
    column that is not a key lives in the directory name, not in ``d``'s
    files (it reads as NULL there), so it is not written back."""
    import os
    import shutil

    if not os.path.exists(d) and os.path.exists(old):
        shutil.move(old, d)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    own = [
        c for c in CHECKPOINT_COLS
        if c in keys or c not in LINEAGE_PARTITION_COLS
    ]
    reduced = _latest_commits(_read_checkpoint(spark, d), keys).select(*own)
    reduced.write.mode("overwrite").parquet(tmp)
    shutil.move(d, old)
    shutil.move(tmp, d)
    shutil.rmtree(old, ignore_errors=True)


def vacuum_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str,
    runs: "list[str] | None" = None,
) -> None:
    """Compact the append-only lineage table to the rows verify_lineage
    actually trusts. Every replay/rerun APPENDS a full set of lineage
    rows while overwriting the data in place, so a long-lived pipeline's
    checkpoint table grows with replay count, not data.

    Grain (review-hardened): the reduction keeps the latest commit per
    (stage, run_id, tile) — replays of one run/batch collapse, but
    commits are NEVER merged across run_ids. That is safe for BOTH sinks
    unconditionally: streaming lineage encodes batch_id in run_id and
    tiles legitimately accumulate rows across batches, so a per-(stage,
    tile) reduction would permanently delete earlier batches' commits
    and turn the streaming audit red on correct data.

    Durability (review-hardened): the reduced table is FIRST written to
    a sibling temp directory straight off the source read (the source
    stays untouched — no lineage-cutting checkpoint of the only copy),
    then swapped in with directory renames. A crash mid-swap leaves the
    commit truth intact in one of the two directories; the NEXT vacuum
    call auto-recovers by restoring the ``.vacuum-old`` copy before
    starting (round-3 advice — previously a crash between the two moves
    left no checkpoint_dir at all until someone restored it by hand).

    LOCAL-FILESYSTEM ONLY (round-3 advice, documented in the CLI help):
    the swap uses os-level renames, which do not exist for object stores.
    Non-local URIs are refused up front; the production form against an
    Iceberg catalog is an expire-snapshots/rewrite procedure through the
    S1 seam, which commits a new snapshot instead of renaming paths.

    PARTITIONED LAYOUT (round 5, VERDICT r4 next-#7 — the 100 TB scale
    story): a checkpoint dir written with ``partition_lineage=True``
    (``stage=<s>/run_id=<r>/`` Hive partitions) is vacuumed PER
    PARTITION — each (stage, run) leaf is reduced to its latest commit
    per tile and swapped independently, optionally restricted with
    ``runs=[...]`` (the retention hook: vacuum only the runs that just
    replayed). The whole-table temp-swap never happens: commit truth in
    untouched partitions is never read, rewritten, or at risk from a
    crash, and the rewrite cost scales with the affected runs' rows,
    not the table's lifetime. Temp/backup dirs live INSIDE the stage
    dir under dot-prefixed names, which Spark's partition discovery
    ignores, so a crash mid-swap never corrupts reads of the rest of
    the table; any orphaned ``.vacuum-old-*`` is auto-restored on the
    next vacuum of that stage.
    """
    import os
    import shutil

    checkpoint_dir = _local_path(checkpoint_dir)
    partitioned = os.path.isdir(checkpoint_dir) and any(
        e.startswith("stage=") for e in os.listdir(checkpoint_dir)
    )
    if partitioned:
        wanted = set(runs) if runs is not None else None
        matched: set = set()
        for sd in sorted(os.listdir(checkpoint_dir)):
            if not sd.startswith("stage="):
                continue
            spath = os.path.join(checkpoint_dir, sd)
            # crash recovery + stale-temp sweep for the whole stage, so
            # a leaf orphaned by a crash heals even if this vacuum call
            # targets different runs
            for e in sorted(os.listdir(spath)):
                p = os.path.join(spath, e)
                if e.startswith(".vacuum-tmp-"):
                    shutil.rmtree(p, ignore_errors=True)
                elif e.startswith(".vacuum-old-"):
                    target = os.path.join(
                        spath, e.removeprefix(".vacuum-old-")
                    )
                    if not os.path.exists(target):
                        shutil.move(p, target)
                    else:
                        shutil.rmtree(p, ignore_errors=True)
            for rd in sorted(os.listdir(spath)):
                if not rd.startswith("run_id="):
                    continue
                # dir names are Hive-ESCAPED (':' -> '%3A' etc., the
                # partition-path convention) — unquote before comparing
                # raw run_ids (round-5 review: the raw comparison made
                # runs=['2026-08-17T10:00'] a silent no-op)
                from urllib.parse import unquote

                run_val = unquote(rd.removeprefix("run_id="))
                if wanted is not None and run_val not in wanted:
                    continue
                matched.add(run_val)
                # stage/run_id are constant within the leaf (encoded in
                # the dir name, absent from the files): latest commit
                # per tile IS the default (stage, run, tile) grain
                _vacuum_swap(
                    spark,
                    os.path.join(spath, rd),
                    ["tile_id"],
                    os.path.join(spath, f".vacuum-tmp-{rd}"),
                    os.path.join(spath, f".vacuum-old-{rd}"),
                )
        if wanted is not None and wanted - matched:
            raise ValueError(
                "vacuum runs= matched no partition for: "
                f"{sorted(wanted - matched)} (typo, or the run has no "
                "commits in this checkpoint dir)"
            )
        return
    if runs is not None:
        raise ValueError(
            "runs= targeting requires a partitioned checkpoint dir "
            "(write_records_and_checkpoint(partition_lineage=True))"
        )
    _vacuum_swap(
        spark,
        checkpoint_dir,
        ["stage", "run_id", "tile_id"],
        checkpoint_dir.rstrip("/") + ".vacuum-tmp",
        checkpoint_dir.rstrip("/") + ".vacuum-old",
    )
