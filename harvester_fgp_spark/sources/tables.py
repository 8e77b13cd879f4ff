"""Table readers (SURVEY.md §2.1 S1-S3).

Production reads the pages table from Iceberg (`spark.read.table` with
snapshot pinning for resumability); this sandbox has no Iceberg runtime
jar, so the same API falls back to Parquet paths — the calling code is
identical either way, which is the point of keeping it behind one module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import PAGES_SCHEMA, TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_pages(
    spark: SparkSession,
    source: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """S1: pages(url, warc_ts, html, text, lang).

    `source` is an Iceberg table name (contains no '/') or a Parquet path.
    Snapshot pinning (`VERSION AS OF`) only applies to the Iceberg branch.
    The Parquet branch reads with `PAGES_SCHEMA`: no inference job, and
    a `warc_ts` stored without a time zone reads as `timestamp` with the
    same wall-clock values under the UTC session.
    """
    if "/" not in source:
        reader = spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.table(source)
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S3: one driver oracle table (TESTDATA.md), read with its declared
    schema (`schemas.TESTDATA_SCHEMAS`), so building a query runs no
    schema-inference job."""
    if name not in TESTDATA_SCHEMAS:
        raise ValueError(f"unknown testdata table {name!r}")
    reader = spark.read.schema(TESTDATA_SCHEMAS[name])
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def read_all_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_testdata(spark, sf_dir, t) for t in TESTDATA_SCHEMAS}


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist a table BUCKETED (and sorted) by a join key — the
    pre-shuffle that makes repeated large-x-large joins on that key
    shuffle-FREE: both sides read already hash-partitioned into the same
    bucket layout, so Catalyst plans a SortMergeJoin with no Exchange on
    either side (plan-asserted in tests/test_bucketed_join.py). At
    100 TB this converts the dominant per-query shuffle of a fact-fact
    join (pages x fetch-log on url, events x events on user) into a
    one-time write-side cost.

    Uses the session catalog's managed-table path (Iceberg's bucket
    partition transform is the same idea through the S1 seam). Bucket
    counts must MATCH on both sides of the join — pick one per key
    domain and keep it in the table contract.
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
