"""A4 per-tile stats: plan shape + equivalence with native aggs."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.operators.groupstats import tile_group_stats


def test_tile_group_stats_matches_native_agg(spark):
    pdf = pd.DataFrame(
        {
            "tile_x": [1, 1, 1, 2, 2],
            "tile_y": [7, 7, 7, 7, 7],
            "lat": [10.25, 10.75, 11.00, -5.50, -6.00],
            "lon": [40.00, 41.00, 42.50, 100.25, 100.75],
        }
    )
    df = spark.createDataFrame(pdf).select(
        F.col("tile_x").cast("long"),
        F.col("tile_y").cast("long"),
        "lat",
        "lon",
    )
    got = {(r.tile_x, r.tile_y): r for r in tile_group_stats(df).collect()}
    native = {
        (r.tile_x, r.tile_y): r
        for r in df.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_points"),
            F.avg("lat").alias("centroid_lat"),
            F.min("lat").alias("min_lat"),
            F.max("lon").alias("max_lon"),
        )
        .collect()
    }
    assert set(got) == set(native)
    for k, r in got.items():
        e = native[k]
        assert r.n_points == e.n_points
        assert abs(r.centroid_lat - e.centroid_lat) < 1e-9
        assert r.min_lat == e.min_lat and r.max_lon == e.max_lon


def test_tile_group_stats_has_no_python_node(spark, sf_dir):
    """Both A4 queries are one native aggregate: no Python node at all."""
    import __spark_entry__ as E

    from tests.conftest import PYTHON_NODES, plan_string

    for name in ("tile_group_stats", "tile_centroid_gagg"):
        df = E.queries()[name](spark, sf_dir)
        df.collect()
        plan = plan_string(df)
        assert "HashAggregate" in plan, name
        assert not [n for n in PYTHON_NODES if n in plan], (name, plan[:2000])
