"""Declared input schemas (`schemas.TESTDATA_SCHEMAS`, `PAGES_SCHEMA`)
against the files they describe, and the Spark jobs the reads run.

A declared schema that drifts from its file does not fail the read: the
missing or renamed column reads as all-null. These tests are the guard.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.schemas import TESTDATA_SCHEMAS
from harvester_fgp_spark.sources.tables import read_pages, read_testdata
from tests.conftest import count_jobs


def _assert_declared_equals_inferred(spark, sf_dir: str) -> None:
    for name in TESTDATA_SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert TESTDATA_SCHEMAS[name] == inferred, name
        assert read_testdata(spark, sf_dir, name).schema == inferred, name


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf_dir, scale):
    _assert_declared_equals_inferred(spark, f"{os.path.dirname(sf_dir)}/{scale}")


def test_declared_schemas_equal_perfbench_twin(spark, tmp_path):
    """The benchmark's seed-made twin of the fixture must read the same
    way, or perfbench would time all-null columns."""
    from perfbench.inputs import generate_tables

    tables = generate_tables(5, 0.001)
    assert list(tables) == list(TESTDATA_SCHEMAS)
    for name, table in tables.items():
        pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    _assert_declared_equals_inferred(spark, str(tmp_path))


def test_unknown_testdata_table_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown testdata table"):
        read_testdata(spark, sf_dir, "nope")


def test_fixture_reads_run_no_job(spark, sf_dir):
    for name in TESTDATA_SCHEMAS:
        assert count_jobs(spark, lambda n=name: read_testdata(spark, sf_dir, n)) == 0, name


@pytest.mark.parametrize(
    "leaf", ["tpch_q1_pricing", "geo_box_tile_summary", "track_stats"]
)
def test_leaf_builds_run_no_job(spark, sf_dir, leaf):
    """Building these leaves is pure plan construction: no schema
    inference, no eager action."""
    import __spark_entry__ as E

    build = E.queries()[leaf]
    assert count_jobs(spark, lambda: build(spark, sf_dir)) == 0


def _pages_dir(tmp_path) -> str:
    """Pages the way pyarrow writes them by default: `warc_ts` as a
    timestamp without a time zone (Spark infers `timestamp_ntz`)."""
    from harvester_fgp_spark.synth import generate_pages

    t = pa.Table.from_pandas(generate_pages(300, seed=3), preserve_index=False)
    i = t.schema.get_field_index("warc_ts")
    t = t.set_column(i, "warc_ts", t["warc_ts"].cast(pa.timestamp("us")))
    d = tmp_path / "pages"
    d.mkdir()
    pq.write_table(t.slice(0, 150), str(d / "part-0.parquet"))
    pq.write_table(t.slice(150), str(d / "part-1.parquet"))
    return str(d)


def test_read_pages_parquet_runs_no_job(spark, tmp_path):
    path = _pages_dir(tmp_path)
    assert count_jobs(spark, lambda: read_pages(spark, path)) == 0


def test_read_pages_keeps_wall_clock_of_ntz_files(spark, tmp_path):
    """Declared `timestamp` over a file that stores `timestamp_ntz`: the
    same rows, and `warc_ts` prints the same wall-clock time as the
    inferred read (the session time zone is UTC)."""
    path = _pages_dir(tmp_path)
    assert dict(spark.read.parquet(path).dtypes)["warc_ts"] == "timestamp_ntz"

    def rows(df):
        ts = F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("warc_ts")
        out = df.select("url", ts, "html", "text", "lang").collect()
        return sorted(out, key=lambda r: (r.url, r.warc_ts))

    declared = read_pages(spark, path)
    assert dict(declared.dtypes)["warc_ts"] == "timestamp"
    got = rows(declared)
    assert len(got) == 300
    assert got == rows(spark.read.parquet(path))
