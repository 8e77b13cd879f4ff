"""Douglas-Peucker ring simplification: the numpy kernel
(geo/simplify.py) and its Spark stage (operators.geo.simplify_rings), plus
null-ring handling in the two ring kernels (simplify_rings and
polygon_tiles)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _ref_dp(xs, ys, tol):
    """Classic recursive reference (test-only)."""
    n = len(xs)
    if n <= 2:
        return list(range(n))

    def rec(i, j):
        if j <= i + 1:
            return []
        dx, dy = xs[j] - xs[i], ys[j] - ys[i]
        seg2 = dx * dx + dy * dy
        best_d, best_m = -1.0, -1
        for m in range(i + 1, j):
            if seg2 == 0:
                d = float(np.hypot(xs[m] - xs[i], ys[m] - ys[i]))
            else:
                d = abs(dy * (xs[m] - xs[i]) - dx * (ys[m] - ys[i])) / float(
                    np.sqrt(seg2)
                )
            if d > best_d:
                best_d, best_m = d, m
        if best_d > tol:
            return rec(i, best_m) + [best_m] + rec(best_m, j)
        return []

    return [0] + rec(0, n - 1) + [n - 1]


def test_simplify_mask_matches_reference():
    from harvester_fgp_spark.geo.simplify import simplify_mask

    rng = np.random.default_rng(13)
    for _ in range(40):
        n = int(rng.integers(3, 60))
        xs = rng.uniform(-10, 10, n)
        ys = rng.uniform(-10, 10, n)
        tol = float(rng.uniform(0, 5))
        got = np.nonzero(simplify_mask(xs, ys, tol))[0].tolist()
        assert got == _ref_dp(xs, ys, tol)


def test_simplify_invariants():
    from harvester_fgp_spark.geo.simplify import simplify_mask, simplify_ring

    # collinear run collapses to endpoints
    xs = np.arange(10.0)
    ys = np.zeros(10)
    m = simplify_mask(xs, ys, 0.01)
    assert m.tolist() == [True] + [False] * 8 + [True]
    # a spike above tol survives
    ys2 = ys.copy()
    ys2[5] = 1.0
    m2 = simplify_mask(xs, ys2, 0.5)
    # the spike survives (its chord neighbors legitimately survive too:
    # the chords through a kept spike raise nearby deviations above tol)
    assert m2[5]
    assert np.nonzero(m2)[0].tolist() == _ref_dp(xs, ys2, 0.5)
    # a spike UNDER tol disappears entirely
    m3 = simplify_mask(xs, ys2, 1.5)
    assert m3.tolist() == [True] + [False] * 8 + [True]
    # tolerance monotonicity
    rng = np.random.default_rng(3)
    rx, ry = rng.uniform(0, 10, 50), rng.uniform(0, 10, 50)
    sizes = [simplify_mask(rx, ry, t).sum() for t in (0.0, 0.5, 2.0, 8.0)]
    assert sizes == sorted(sizes, reverse=True)
    # endpoints always kept
    sx, sy = simplify_ring(rx, ry, 3.0)
    assert sx[0] == rx[0] and sx[-1] == rx[-1]


def test_simplify_rings_spark_roundtrip(spark):
    from harvester_fgp_spark.operators.geo import simplify_rings
    from harvester_fgp_spark.synth import polygons_df

    polys = polygons_df(spark, 30).select("polygon_id", "ring")
    out = simplify_rings(polys, tol=0.05).select(
        "polygon_id",
        F.size("ring").alias("nb"),
        F.size("ring_simplified").alias("na"),
        F.col("ring_simplified")[0].alias("first"),
        F.element_at(F.col("ring_simplified"), -1).alias("last"),
        F.col("ring")[0].alias("ofirst"),
    )
    pdf = out.toPandas()
    assert (pdf.na <= pdf.nb).all() and (pdf.na >= 3).all()
    # closing vertex structure preserved: first == last == original first
    for r in pdf.itertuples(index=False):
        assert r.first == r.ofirst and r.last == r.ofirst


_RING_TYPE = "array<struct<x:double,y:double>>"
_SQUARE = [
    {"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 1.0, "y": 1.0},
    {"x": 0.0, "y": 1.0}, {"x": 0.0, "y": 0.0},
]


def test_simplify_rings_null_ring_gives_null(spark):
    """A file read makes ``ring`` nullable: a null ring simplifies to a
    null ring, and its neighbours are untouched."""
    from harvester_fgp_spark.operators.geo import simplify_rings

    df = spark.createDataFrame(
        [("a", _SQUARE), ("b", None)], f"polygon_id string, ring {_RING_TYPE}"
    )
    got = {
        r.polygon_id: r.ring_simplified
        for r in simplify_rings(df, tol=0.05).collect()
    }
    assert got["b"] is None
    assert [(p.x, p.y) for p in got["a"]] == [(p["x"], p["y"]) for p in _SQUARE]


def test_polygon_tiles_null_ring_emits_no_tiles(spark):
    from harvester_fgp_spark.operators.geo import polygon_tiles

    df = spark.createDataFrame(
        [("a", _SQUARE), ("b", None)], f"polygon_id string, ring {_RING_TYPE}"
    )
    ids = {r.polygon_id for r in polygon_tiles(df, z=8).collect()}
    assert ids == {"a"}
