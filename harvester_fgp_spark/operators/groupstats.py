"""A4: per-tile reductions (SURVEY.md §2.6) as one native aggregate.

``tile_group_stats`` computes, per web-mercator tile, the payload centroid
and the bbox union of its points with ``groupBy(...).agg`` — no Python
runs: every output is a builtin aggregate over a native expression.

Exactness contract with the DuckDB oracle (CLAUDE.md rules): the centroid
divides an INTEGER centi-degree sum by (100 * n) — one exactly-rounded
IEEE division on inputs both engines derive bit-identically — so the
driver's value-hash matches exactly, unlike a float running sum whose
result depends on accumulation order. floor(x*100 + 0.5), NOT round:
Spark's and DuckDB's ROUND are half-away-from-zero while numpy's rint
is half-to-even, and the explicit floor(+0.5) is one op sequence every
engine reproduces (the oracle uses the same longhand).

Scale shape: one shuffle on the group key with partial aggregation
before it; a hot tile is exactly the skew case J7 salting exists for
upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _centideg_mean(c: str) -> Column:
    """Exact centroid coordinate: integer centi-degree sum / (100 n)."""
    return F.sum(F.floor(F.col(c) * 100.0 + 0.5)) / (F.lit(100.0) * F.count("*"))


def tile_group_stats(points_tiled: DataFrame) -> DataFrame:
    """(tile_x, tile_y, lat, lon) -> per-tile centroid + bbox union (A4).

    Input must already carry long-typed tile_x/tile_y (e.g. from
    operators.geo.tile_cols); one row per tile comes back.
    """
    return points_tiled.groupBy("tile_x", "tile_y").agg(
        F.count("*").alias("n_points"),
        _centideg_mean("lat").alias("centroid_lat"),
        _centideg_mean("lon").alias("centroid_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
    )
