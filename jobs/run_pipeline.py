"""Production job (EP1): spark-submit --py-files engine.zip jobs/run_pipeline.py

  spark-submit --py-files engine.zip jobs/run_pipeline.py \
      --pages <iceberg table | parquet path> \
      --polygons <parquet path | synth:N> \
      --out /data/records --checkpoint /data/checkpoint \
      --run-id run-2026-08-16 [--resume] [--cell-level 12] [--tile-z 8]

Resumable: with --resume, tiles already committed to the checkpoint table
are anti-joined away before any recomputation (BASELINE.json:14).
"""

from __future__ import annotations

import argparse
import os
import sys

# spark-submit ships the engine via --py-files engine.zip; for bare local
# runs (python jobs/run_pipeline.py) fall back to the repo checkout.
_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo not in sys.path:
    sys.path.insert(0, _repo)


# flags only the batch path reads (argparse dests)
_BATCH_ONLY = (
    "engine",
    "cell_level",
    "tile_z",
    "partition_lineage",
    "resume",
    "compact",
    "vacuum_checkpoint",
    "vacuum_runs",
    "verify_lineage",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True)
    p.add_argument("--polygons", default="synth:200")
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--quarantine",
        default=None,
        help="optional parquet path for invalid pages (P2: the reference's "
        "report-and-skip behavior as a queryable errors table)",
    )
    p.add_argument(
        "--verify-lineage",
        action="store_true",
        help="after the write, audit on-disk tiles against the checkpoint "
        "table (row counts + fingerprints) and fail on any discrepancy",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="treat --pages as a streaming source directory: run the SAME "
        "pipeline per micro-batch via foreachBatch with exactly-once "
        "per-(tile,batch) commits; processes available input then stops "
        "(batch-only flags such as --resume or --tile-z are refused)",
    )
    p.add_argument("--stream-checkpoint", default=None,
                   help="Structured Streaming checkpoint location "
                   "(default: <checkpoint>/_stream)")
    p.add_argument(
        "--engine",
        choices=("fused", "native"),
        default="fused",
        help="payload+PIP stage: 'fused' = one mapInArrow Python stage "
        "(fastest steady state); 'native' = zero-Python plan for "
        "text-bearing rows (fastest cold start / micro-batches) — "
        "record-identical outputs either way",
    )
    p.add_argument(
        "--compact", type=int, default=None, metavar="ROWS_PER_FILE",
        help="after writing, rewrite the output compacted: per-tile file "
        "budget = ceil(rows / ROWS_PER_FILE), rows clustered by cell_id "
        "within files (lineage audit unaffected)",
    )
    p.add_argument(
        "--vacuum-checkpoint", action="store_true",
        help="compact the lineage table to the latest commit per "
        "(run, tile) (replays/reruns append; audit semantics unchanged). "
        "LOCAL FILESYSTEM ONLY: the atomic swap uses directory renames, "
        "which object stores lack — on Iceberg use the snapshot-expiry "
        "procedure instead",
    )
    p.add_argument(
        "--partition-lineage", action="store_true",
        help="lay the checkpoint table out as stage=/run_id= Hive "
        "partitions (the 100 TB shape): vacuum then rewrites only "
        "affected (stage, run) partitions instead of the whole table",
    )
    p.add_argument(
        "--vacuum-runs", type=str, default=None, metavar="R1,R2",
        help="with --vacuum-checkpoint on a partitioned checkpoint dir: "
        "vacuum only these run_ids (retention hook)",
    )
    p.add_argument(
        "--simplify-tol", type=float, default=None,
        help="Douglas-Peucker tolerance (degrees) applied to the polygon "
             "dim table before the broadcast PIP index build — shrinks "
             "the broadcast payload and per-point ray-cast work; rings "
             "that would degenerate (<4 points) stay unsimplified.",
    )
    p.add_argument("--cell-level", type=int, default=12)
    p.add_argument("--tile-z", type=int, default=8)
    p.add_argument("--snapshot-id", type=int, default=None)
    args = p.parse_args(argv)
    if args.stream:
        # the stream branch runs its own sink and returns before the
        # batch steps: refuse these rather than silently ignore them
        ignored = [
            "--" + dest.replace("_", "-")
            for dest in _BATCH_ONLY
            if getattr(args, dest) != p.get_default(dest)
        ]
        if ignored:
            p.error(
                "--stream cannot honour batch-only flags: " + ", ".join(ignored)
            )
    return args


def main(argv: list[str]) -> None:
    args = parse_args(argv)

    from harvester_fgp_spark.plans.pipeline import mine_records
    from harvester_fgp_spark.session import build_session
    from harvester_fgp_spark.sinks import checkpoint as C
    from harvester_fgp_spark.sources.tables import read_pages
    from harvester_fgp_spark.synth import generate_polygons

    spark = build_session(app_name=f"hfs-pipeline-{args.run_id}")
    pages = read_pages(spark, args.pages, snapshot_id=args.snapshot_id)
    if args.quarantine:
        from harvester_fgp_spark.operators.extract import split_valid

        _, bad = split_valid(pages)
        bad.write.mode("overwrite").parquet(args.quarantine)
    if args.polygons.startswith("synth:"):
        ppdf = generate_polygons(int(args.polygons.split(":", 1)[1]), seed=42)
    else:
        ppdf = spark.read.parquet(args.polygons).toPandas()  # noqa: small dim table
    if args.simplify_tol is not None:
        from harvester_fgp_spark.geo.simplify import simplify_polygons_pdf

        before = sum(len(r) for r in ppdf["ring"])
        ppdf = simplify_polygons_pdf(ppdf, args.simplify_tol)
        after = sum(len(r) for r in ppdf["ring"])
        print(f"simplify: outer-ring vertices {before} -> {after} "
              f"(tol={args.simplify_tol})")

    if args.stream:
        from harvester_fgp_spark.streaming.pipeline import (
            read_pages_stream,
            stream_records_foreach_batch,
        )

        stream = read_pages_stream(spark, args.pages)
        q = (
            stream_records_foreach_batch(
                spark, stream, ppdf, args.out, args.checkpoint, args.run_id
            )
            .option(
                "checkpointLocation",
                args.stream_checkpoint or f"{args.checkpoint}/_stream",
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        print("stream drained; records at", args.out)
        spark.stop()
        return

    records = C.with_tile_id(
        mine_records(
            spark, pages, ppdf, cell_level=args.cell_level,
            tile_z=args.tile_z, engine=args.engine,
        )
    )
    if args.resume:
        records = C.resume_filter(records, spark, args.checkpoint)
    # observe(): run metrics ride the write itself — zero extra passes
    # over the data (a separate count()/agg() would re-execute the
    # pipeline; SURVEY §2.2 "lineage + metrics")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("run_metrics")
    records = records.observe(
        obs,
        F.count(F.lit(1)).alias("n_records"),
        F.min("tile_id").alias("min_tile"),
        F.max("tile_id").alias("max_tile"),
    )
    C.write_records_and_checkpoint(
        records, args.out, args.checkpoint, run_id=args.run_id,
        partition_lineage=args.partition_lineage,
    )
    try:
        print("run metrics:", obs.get)
    except Exception as metrics_err:
        # A fully-resumed run (nothing pending) is an EMPTY relation:
        # Catalyst's empty-relation propagation elides the CollectMetrics
        # node, the observation completes with a schemaless empty row,
        # and toPyRow refuses it (Spark 4.1) — which would fail the job
        # AFTER its data+lineage commit already succeeded. Metrics are
        # advisory; the committed lineage is the fallback truth (this
        # run's rows sum to its record count, 0 for an empty resume).
        n = (
            C._read_checkpoint(spark, args.checkpoint)
            .filter(F.col("run_id") == args.run_id)
            .agg(F.coalesce(F.sum("row_count"), F.lit(0)).alias("n"))
            .collect()[0].n
        )
        # Surface the swallowed error so a REAL observation bug (not the
        # empty-resume elision) is visible next to the lineage fallback.
        cause = str(metrics_err).splitlines()[0][:200] if str(metrics_err) else ""
        print(f"run metrics: {{'n_records': {n}}} "
              "(observation elided — empty resume; from lineage; "
              f"cause: {type(metrics_err).__name__}: {cause})")
    if args.compact:
        C.compact_records(spark, args.out, target_rows_per_file=args.compact)
        print(f"compacted {args.out} (target {args.compact} rows/file)")
    if args.vacuum_checkpoint:
        # strip per element: "--vacuum-runs 'r1, r2'" is the natural CLI
        # spelling, and an unstripped ' r2' would match no partition
        runs = (
            [r.strip() for r in args.vacuum_runs.split(",") if r.strip()]
            if args.vacuum_runs
            else None
        )
        C.vacuum_checkpoint(spark, args.checkpoint, runs=runs)
        print("checkpoint vacuumed:", args.checkpoint)
    if args.verify_lineage:
        bad_tiles = C.verify_lineage(spark, args.out, args.checkpoint)
        n_bad = bad_tiles.count()
        if n_bad:
            bad_tiles.show(20, truncate=False)
            raise SystemExit(f"lineage verification FAILED for {n_bad} tiles")
        print("lineage verified: disk == checkpoint for all tiles")
    # distinct completion marker AFTER the maintenance steps (round-3
    # advice): the metrics line above prints before compaction/vacuum can
    # still throw, so log scrapers must key on THIS line, not on metrics
    print(f"job complete: run_id={args.run_id}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
