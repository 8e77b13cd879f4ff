"""Table readers (SURVEY.md §2.1 S1-S3).

Production reads the pages table from Iceberg (`spark.read.table` with
snapshot pinning for resumability); this sandbox has no Iceberg runtime
jar, so the same API falls back to Parquet paths — the calling code is
identical either way, which is the point of keeping it behind one module.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

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


def local_table(
    spark: SparkSession,
    rows,
    schema: "StructType | str",
) -> DataFrame:
    """Driver-side rows as a DataFrame that plans as a ``LocalRelation``.

    ``rows`` are tuples in schema order, or a pandas frame holding the
    schema's columns; ``schema`` is a StructType or a DDL string. The
    rows become one ``pyarrow.Table``, shipped to the JVM as Arrow
    batches: no Python task runs, the plan has exact size statistics,
    and a row that does not fit the schema raises here. The list form of
    ``createDataFrame`` runs a pickled Python RDD whose worker env
    differs from the SQL Arrow UDFs', so each executor starts a second
    ``pyspark.daemon`` and worker pool for it (~300 MB RSS on 4 cores).
    Naive timestamps are wall-clock times in the session time zone.
    """
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct, timestamp_utc=False)
    # a pandas frame can only exist once pandas is loaded: no import here
    pd = sys.modules.get("pandas")
    if pd is not None and isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(
            rows[struct.fieldNames()], schema=arrow_schema, preserve_index=False
        )
    else:
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, struct)


def visible_entries(spark: SparkSession, path: str) -> "list[str] | None":
    """Names of the entries under ``path`` that readers see (not ``_``-
    or ``.``-prefixed), listed through the session's Hadoop FileSystem so
    the path resolves exactly as a Spark read or write of it would (a
    scheme-less path included); None when ``path`` does not exist."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    names = (st.getPath().getName() for st in fs.listStatus(p))
    return [n for n in names if not n.startswith(("_", "."))]


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
