"""Structured Streaming lift of the batch stages (SURVEY.md §2.10).

The reference is a batch harvester, so this is the v2 seam made real: the
batch stages E1->G7 are stateless, so they run unchanged inside a
streaming query; event time comes from warc_ts with a watermark, and the
per-tile aggregation becomes a tumbling window.

Two modes:
- ``stream_tile_counts``: fully streaming DAG (watermark + windowed agg),
  append/update via any sink.
- ``stream_records_foreach_batch``: foreachBatch reusing the IDENTICAL
  batch ``mine_records`` + checkpoint sink — the migration path that
  preserves the batch engine's exactly-once-per-tile semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as E
from ..operators import geo as G
from ..schemas import PAGES_SCHEMA
from ..sources.tables import visible_entries


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_tile_counts(
    pages: DataFrame,
    watermark: str = "1 day",
    window: str = "1 hour",
    tile_z: int = 8,
) -> DataFrame:
    """pages stream -> per-(event-time window, tile) payload counts.

    Zero Python: the miner is the JVM one (``extract.with_payloads``),
    shared with ``mine_records(engine="native")``.
    """
    df = pages.withWatermark("warc_ts", watermark)
    df = df.filter(F.col("lang").isin("en", "fr"))
    df = E.with_payloads(df, "text")
    tx, ty = G.tile_cols(F.col("pt_lon"), F.col("pt_lat"), tile_z)
    df = df.withColumn("tile_x", tx).withColumn("tile_y", ty)
    return df.groupBy(
        F.window("warc_ts", window).alias("w"), "tile_x", "tile_y"
    ).agg(F.count("*").alias("n_payloads"))


def stream_dedup_first_seen(pages: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): emit each url the
    FIRST time it is ever seen across micro-batches, suppress all later
    crawls of the same url.

    This is the streaming twin of the batch W2 dedup (joins.dedup_latest):
    a batch window can pick the latest crawl per url because it sees all
    rows at once; a stream cannot, so per-key state carries the
    seen-count across triggers. State is one long per url — bounded,
    checkpointed by Structured Streaming, recovered on restart.

    Scale shape: the groupBy shuffles once on url (same as any stateful
    agg); state store size is O(distinct urls), the price of exact
    streaming dedup — at 10^12 urls you'd shard by url hash range or trade
    exactness for a Bloom/HLL sketch (documented seam, not implemented).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("n_seen_total", LongType()),
        ]
    )
    state_schema = StructType([StructField("n_seen", LongType())])

    def fn(key, pdfs, state):
        n_prev = state.get[0] if state.exists else 0
        # running MIN across every chunk of the trigger: chunk order is
        # shuffle-dependent, so emitting an arbitrary row's warc_ts would
        # be nondeterministic across replays/restarts ("first time seen"
        # must mean the earliest event time in the trigger, not the first
        # Arrow chunk to arrive)
        min_ts = None
        n_new = 0
        for pdf in pdfs:
            if len(pdf):
                chunk_min = pdf["warc_ts"].min()
                min_ts = chunk_min if min_ts is None else min(min_ts, chunk_min)
            n_new += len(pdf)
        state.update((n_prev + n_new,))
        if n_prev == 0 and min_ts is not None:
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "warc_ts": [min_ts],
                    "n_seen_total": [n_prev + n_new],
                }
            )

    return (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_dedup_within_watermark(
    pages: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Bounded-state streaming url dedup with NO custom stateful operator
    (round 4): Spark's native ``dropDuplicatesWithinWatermark`` keeps a
    url's dedup state only until the watermark passes its event time +
    the delay, so the state store is O(urls per watermark horizon) —
    the documented 10^12-url shape next to ``stream_dedup_first_seen``,
    whose exact forever-dedup state is O(every url ever seen) (its
    docstring's "shard or sketch at 10^12" seam). The trade: duplicates
    farther apart in EVENT TIME than the watermark re-emit — for crawl
    streams, "dedup re-crawls within a day/week" is usually the actual
    product requirement, and this plan gets it with a plain shuffle on
    url plus watermark-driven state eviction, no Python state function.

    Unlike ``dropDuplicates`` (state grows forever, same as first_seen)
    the guarantee is explicitly time-bounded; emitted rows are the
    first-ARRIVED copy per url within the horizon, exactly once across
    restarts (state is checkpointed by Structured Streaming).
    """
    return (
        pages.select("url", "warc_ts")
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
    )


def stream_records_foreach_batch(
    spark: SparkSession,
    pages: DataFrame,
    polygons_pdf,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str,
):
    """foreachBatch: each micro-batch runs the UNCHANGED batch pipeline
    and commits through the streaming variant of the checkpoint sink
    (partitioned by (tile_id, batch_id) — tiles span micro-batches, so the
    batch sink's overwrite-by-tile would silently erase earlier batches'
    rows in the same tile; see sinks.checkpoint.write_stream_batch)."""
    from ..plans.pipeline import mine_records
    from ..sinks.checkpoint import write_stream_batch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        records = mine_records(spark, batch_df, polygons_pdf)
        write_stream_batch(
            records, out_dir, checkpoint_dir, run_id=run_id, batch_id=batch_id
        )

    return pages.writeStream.foreachBatch(_process)


FETCH_LOG_FIELDS = "url string, log_ts timestamp, status int"


def read_fetch_log_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Crawl-fetch log stream (url, log_ts, status) — the second stream
    of the stream-stream join surface."""
    return (
        spark.readStream.schema(FETCH_LOG_FIELDS)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_join_fetch_log(
    pages: DataFrame,
    logs: DataFrame,
    tolerance: str = "10 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Stream-stream INNER join with event-time bounds (§2.10): each page
    pairs with the fetch-log entries for the same url within +/-tolerance
    of its warc_ts.

    Both inputs carry watermarks AND the join condition bounds log_ts
    relative to warc_ts in both directions — that pair is what lets the
    engine expire buffered state: a page can be dropped once the log
    watermark passes warc_ts + tolerance, and vice versa. Without the
    time bound the join state grows with the full history of both streams
    — the stream-stream scale-killer. State shuffles on url (the equi
    half of the condition); the range half filters within the matched
    bucket, exactly like the batch interval join.
    """
    p = pages.select("url", "warc_ts", "lang").withWatermark(
        "warc_ts", watermark
    )
    lg = logs.withWatermark("log_ts", watermark)
    lo = F.expr(f"warc_ts - INTERVAL {tolerance}")
    hi = F.expr(f"warc_ts + INTERVAL {tolerance}")
    cond = (
        (p["url"] == lg["url"])
        & (lg["log_ts"] >= lo)
        & (lg["log_ts"] <= hi)
    )
    return p.join(lg, cond, "inner").select(
        p["url"].alias("url"), "warc_ts", "log_ts", "status", "lang"
    )


def sessionize_windows(
    pages: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    streaming: bool = True,
    ts_col: str = "warc_ts",
    key_col: str = "url",
) -> DataFrame:
    """Per-key session windows via Spark's native dynamic-gap
    ``session_window`` — the streaming twin of the batch lag/running-sum
    sessionizer (__spark_entry__ sessionize_events). A session closes
    once the watermark passes its end + gap, so state per key is one
    open window, not event history. The SAME plan runs in batch
    (streaming=False drops the watermark, which batch ignores anyway) —
    the identity test runs both and compares, and the batch execution is
    driver-gated against a DuckDB gap-reconstruction oracle
    (__spark_entry__ session_window_batch).

    Merge semantics (measured, round 6): two events exactly ``gap``
    apart MERGE — a new session starts only when the inter-event delta
    is STRICTLY greater than the gap; session end = last event ts + gap.
    The oracle encodes the same rule (``gap_us > gap``, ``MAX(ts)+gap``).

    ``ts_col``/``key_col`` default to the page-stream schema; the batch
    gate runs the identical plan over the events table (ts, user_id)."""
    src = pages.withWatermark(ts_col, watermark) if streaming else pages
    return (
        src.groupBy(
            F.session_window(ts_col, gap).alias("w"), key_col
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_incremental_store(
    docs: DataFrame,
    store_path: str,
    pairs_out: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
):
    """Streaming near-dup detection against a PERSISTENT signature store
    — the continuous-crawl loop: every micro-batch (a) dedups against
    itself plus everything ever streamed (via the store's band table,
    old signatures read, never recomputed), (b) appends its verified
    cross/within-batch pairs to ``pairs_out``, and (c) appends its own
    signatures + (id, text) to the store so later batches see it.

    State lives entirely in the store layout, not in Spark streaming
    state — so the guarantee is watermark-free (a duplicate arriving
    WEEKS later is still caught, unlike dropDuplicatesWithinWatermark's
    horizon) at the cost of a per-batch band-table scan. Corpus text for
    the verify join rides a ``{store}/texts`` append table, so only
    candidate rows are ever fetched. foreachBatch replays are idempotent
    for the pair OUTPUT keyed by batch_id partitioning (rewrite of the
    same batch directory), and the band/texts appends dedup on read via
    the groupBy bucket key (a replayed identical signature row lands in
    the same bucket and produces the same pairs).
    """
    from ..operators.dedup import (
        band_table,
        minhash_incremental_pairs,
        update_minhash_store,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.select(id_col, text_col).localCheckpoint()
        bands_dir = f"{store_path}/bands"
        texts_dir = f"{store_path}/texts"
        # existence via the Hadoop FileSystem API, NOT os.path — an
        # hdfs://-or-s3a:// store would read as "absent" to os.path and
        # silently degrade every batch to within-batch-only dedup
        if visible_entries(spark, bands_dir) is not None:
            corpus = (
                spark.read.parquet(texts_dir)
                .select(id_col, text_col)
                .unionByName(batch_df)
            )
            pairs = minhash_incremental_pairs(
                batch_df,
                bands_dir,
                corpus,
                threshold=threshold,
                id_col=id_col,
                text_col=text_col,
            )
        else:
            from ..operators.dedup import minhash_near_dup_pairs

            pairs = minhash_near_dup_pairs(
                batch_df, id_col=id_col, text_col=text_col,
                threshold=threshold,
            )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{pairs_out}/batch_id={batch_id}")
        )
        update_minhash_store(batch_df, bands_dir, id_col, text_col)
        batch_df.write.mode("append").parquet(texts_dir)

    return docs.writeStream.foreachBatch(_process)
