"""Round-4 (VERDICT r3 missing-#4): polygons whose RINGS cross the
antimeridian — Fiji/Chukotka-class boundaries — must PIP-match and
rasterize correctly on BOTH sides of ±180.

The treatment is ring splitting at ±180 into in-range parts
(geo.cells.split_ring_at_dateline), flowing through every consumer:
PolygonIndex (the fused stage's PIP), the cell-map (native PIP join),
and the tile rasterizer. Both PIP paths are asserted IDENTICAL on the
fixture.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.geo.cells import (
    split_ring_at_dateline,
    split_rings_dateline,
)
from harvester_fgp_spark.operators import geo as G

# a Fiji-like box: lon 178..182 (= 178..-178 wrapped), lat 10..20
FIJI_RING = [
    {"x": 178.0, "y": 10.0},
    {"x": -178.0, "y": 10.0},
    {"x": -178.0, "y": 20.0},
    {"x": 178.0, "y": 20.0},
    {"x": 178.0, "y": 10.0},
]
# a normal box far away: lon -10..10, lat -5..5
PLAIN_RING = [
    {"x": -10.0, "y": -5.0},
    {"x": 10.0, "y": -5.0},
    {"x": 10.0, "y": 5.0},
    {"x": -10.0, "y": 5.0},
    {"x": -10.0, "y": -5.0},
]

POLYS_PDF = pd.DataFrame(
    [
        {"polygon_id": "fiji", "ring": FIJI_RING},
        {"polygon_id": "plain", "ring": PLAIN_RING},
    ]
)

# (lon, lat, expected polygon_id or None)
CASES = [
    (179.5, 15.0, "fiji"),  # west of the dateline, inside
    (-179.5, 15.0, "fiji"),  # east of the dateline, inside
    (179.5, 25.0, None),  # right lon band, north of the box
    (177.0, 15.0, None),  # west of the box
    (-177.0, 15.0, None),  # east of the box
    (0.0, 0.0, "plain"),
    (0.0, 8.0, None),
]


def test_split_ring_unit():
    xs = np.array([p["x"] for p in FIJI_RING])
    ys = np.array([p["y"] for p in FIJI_RING])
    parts = split_ring_at_dateline(xs, ys)
    assert len(parts) == 2
    for px, py in parts:
        assert px.min() >= -180.0 and px.max() <= 180.0
        assert px[0] == px[-1] and py[0] == py[-1]  # closed
    spans = sorted((px.min(), px.max()) for px, _ in parts)
    assert spans[0] == (-180.0, -178.0)
    assert spans[1] == (178.0, 180.0)
    # non-crossing ring: identity, no copy games
    px = np.array([p["x"] for p in PLAIN_RING])
    py = np.array([p["y"] for p in PLAIN_RING])
    out = split_ring_at_dateline(px, py)
    assert len(out) == 1 and np.array_equal(out[0][0], px)
    assert len(split_rings_dateline([(xs, ys), (px, py)])) == 3


def _points_df(spark):
    return spark.createDataFrame(
        [(i, lon, lat) for i, (lon, lat, _) in enumerate(CASES)],
        "pt_id long, lon double, lat double",
    )


def _expected():
    return sorted(
        (i, exp) for i, (_, _, exp) in enumerate(CASES) if exp is not None
    )


def test_pip_both_paths_match_dateline_polygon(spark):
    """The fused stage's PIP (``PolygonIndex.match_points``) and the
    zero-Python ``pip_join_native`` both match the fixture exactly."""
    idx = G.build_polygon_index(POLYS_PDF)
    lon = np.array([c[0] for c in CASES], dtype=np.float64)
    lat = np.array([c[1] for c in CASES], dtype=np.float64)
    pts_i, polys_i = idx.match_points(lon, lat)
    got_py = sorted(
        (int(i), idx.polygon_ids[p]) for i, p in zip(pts_i, polys_i)
    )
    pts = _points_df(spark)
    got_nat = sorted(
        (r["pt_id"], r["polygon_id"])
        for r in G.pip_join_native(spark, pts, POLYS_PDF, how="inner").collect()
    )
    assert got_py == _expected()
    assert got_nat == got_py  # record identity across engines


def test_dateline_polygon_rasterizes_both_sides(spark):
    z = 6
    polys = spark.createDataFrame(
        [("fiji", FIJI_RING)],
        "polygon_id string, ring array<struct<x:double,y:double>>",
    )
    tiles = G.polygon_tiles(polys, z=z).collect()
    xs = sorted({r["tile_x"] for r in tiles})
    n = 1 << z
    # lon 178 -> x 63; lon 180- -> 63; lon -180 -> 0; lon -178 -> 0
    assert 0 in xs and (n - 1) in xs
    # nothing rasterized in the middle of the map (no world-spanning band)
    assert all(x <= 1 or x >= n - 2 for x in xs), xs
    # rows cover the lat band on BOTH sides
    for side in (0, n - 1):
        ys = {r["tile_y"] for r in tiles if r["tile_x"] == side}
        assert ys, f"no tiles on side x={side}"


def test_dateline_cell_map_covers_both_sides():
    rows = G._polygon_cell_map_rows(POLYS_PDF)
    from harvester_fgp_spark.geo import cells as C

    fiji_cells = {
        cell
        for cell, polys in rows
        if any(pid == "fiji" for pid, _ in polys)
    }
    west = C.cover_bbox(178.0, 10.0, 180.0, 20.0)
    east = C.cover_bbox(-180.0, 10.0, -178.0, 20.0)
    assert set(int(c) for c in west) <= fiji_cells
    assert set(int(c) for c in east) <= fiji_cells
    # and no world-spanning band: the fiji cover is exactly the union
    assert fiji_cells == set(int(c) for c in west) | set(int(c) for c in east)
