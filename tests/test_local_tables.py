"""Driver-side lookup tables plan as Arrow ``LocalRelation``s.

Every table the engine builds from driver rows goes through
``sources.tables.local_table``. The list form of ``createDataFrame``
plans a ``LogicalRDD`` over a pickled Python RDD, whose worker env
starts a second ``pyspark.daemon`` and its own workers on every
executor; a ``LocalRelation`` runs no Python task at all.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from harvester_fgp_spark import synth
from harvester_fgp_spark.operators import dedup as D
from harvester_fgp_spark.operators import geo as G
from harvester_fgp_spark.operators import similarity as S
from harvester_fgp_spark.sinks import checkpoint as C
from harvester_fgp_spark.sources.tables import local_table


def _leaves(df) -> list[str]:
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = []
    while it.hasNext():
        out.append(it.next().getClass().getSimpleName())
    return out


@pytest.fixture
def created(monkeypatch):
    """Logical plan kinds of every frame built from driver data while
    the test runs."""
    kinds: list[str] = []
    orig = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = orig(self, *args, **kwargs)
        kinds.append(
            df._jdf.queryExecution().logical().getClass().getSimpleName()
        )
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return kinds


def _points(spark, n: int = 400):
    return spark.range(n).select(
        F.col("id").alias("pid"),
        (F.col("id") * 0.37 % 80.0 - 130.0).alias("lon"),
        (F.col("id") * 0.11 % 25.0 + 44.0).alias("lat"),
    )


def test_local_table_rows_and_types(spark):
    df = local_table(
        spark,
        [(1, [(0.5, "a")]), (2, [])],
        "k long, xs array<struct<v:double,s:string>>",
    )
    assert _leaves(df) == ["LocalRelation"]
    assert [(r.k, [tuple(x) for x in r.xs]) for r in df.collect()] == [
        (1, [(0.5, "a")]),
        (2, []),
    ]
    empty = local_table(spark, [], "k long, s string")
    assert _leaves(empty) == ["LocalRelation"]
    assert empty.count() == 0 and empty.columns == ["k", "s"]


def test_local_table_rejects_rows_that_do_not_fit(spark):
    """A row that does not fit the declared schema raises on the driver,
    before any plan is built."""
    with pytest.raises(pa.ArrowInvalid):
        local_table(spark, [("not a long",)], "k long")


def test_hilbert_range_cover_is_local(spark, created):
    h = G.with_hilbert(_points(spark), "lon", "lat", 6, "hid")
    box = (-120.0, 46.0, -100.0, 60.0)
    out = G.hilbert_range_scan(h, *box, level=6, id_col="hid", max_ranges=None)
    assert created == ["LocalRelation"]
    assert "LogicalRDD" not in _leaves(out)
    assert out.count() > 0


def test_pip_cell_map_is_local(spark, created):
    out = G.pip_join_native(
        spark, _points(spark), synth.generate_polygons(8, seed=3)
    )
    assert created == ["LocalRelation"]
    assert "LogicalRDD" not in _leaves(out)


def test_centroid_table_is_local(spark, created):
    centers = np.arange(12, dtype="float64").reshape(3, 4)
    ctr = S._centroid_table(spark, centers)
    assert created == ["LocalRelation"]
    assert [(r.cell, r.ctr) for r in ctr.orderBy("cell").collect()] == [
        (i, centers[i].tolist()) for i in range(3)
    ]


def test_absent_checkpoint_resumes_everything(spark, created, tmp_path):
    cp = str(tmp_path / "no_checkpoint")
    assert C.completed_tiles(spark, cp).count() == 0
    pending = spark.range(5).withColumnRenamed("id", "tile_id")
    kept = C.resume_filter(pending, spark, cp)
    assert created == ["LocalRelation", "LocalRelation"]
    assert "LogicalRDD" not in _leaves(kept)
    assert sorted(r.tile_id for r in kept.collect()) == [0, 1, 2, 3, 4]


def test_minhash_store_marker_is_local(spark, created, tmp_path):
    docs = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta "), F.col("id").cast("string"))
        .alias("text"),
    )
    store = str(tmp_path / "store")
    D.update_minhash_store(docs, store)
    assert created == ["LocalRelation"]
    assert D._store_kernel_version(spark, store) == D.BAND_KERNEL_VERSION


def test_synth_frames_are_local(spark, created):
    pages = synth.pages_df(spark, 20, seed=5)
    polys = synth.polygons_df(spark, 6, seed=5)
    assert created == ["LocalRelation", "LocalRelation"]
    assert pages.count() == 20 and polys.count() == 6
