"""Multi-ring polygons (round 3): even-odd PIP over holes and
multipolygon parts must equal the brute-force per-ring XOR, and donut
interiors must genuinely exclude points."""

from __future__ import annotations

import numpy as np
import pandas as pd

from harvester_fgp_spark.geo.pip import PolygonIndex, points_in_ring
from harvester_fgp_spark.operators.geo import build_polygon_index
from harvester_fgp_spark.synth import generate_polygons


def _brute(polys, lon, lat):
    pairs = set()
    for pi, rings in enumerate(polys):
        inside = np.zeros(len(lon), dtype=bool)
        for rx, ry in rings:
            inside ^= points_in_ring(lon, lat, rx, ry)
        for qi in np.nonzero(inside)[0]:
            pairs.add((int(qi), pi))
    return pairs


def test_even_odd_matches_brute_force_on_random_multiring():
    rng = np.random.default_rng(21)
    polys = []
    for _ in range(40):
        n_rings = int(rng.integers(1, 4))
        rings = []
        cx, cy = rng.uniform(-50, 50, 2)
        for j in range(n_rings):
            k = int(rng.integers(4, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(1, 8) * (0.4**j)
            rx = cx + rad * np.cos(ang) + (4.0 * j if j and rng.random() < 0.5 else 0)
            ry = cy + rad * np.sin(ang)
            rx = np.append(rx, rx[0])
            ry = np.append(ry, ry[0])
            rings.append((rx, ry))
        polys.append(rings)
    lon = rng.uniform(-60, 60, 800)
    lat = rng.uniform(-60, 60, 800)
    idx = PolygonIndex([f"p{i}" for i in range(len(polys))], polys)
    pts, ps = idx.match_points(lon, lat)
    got = set(zip(pts.tolist(), ps.tolist()))
    assert got == _brute(polys, lon, lat)


def test_donut_hole_excludes_center():
    outer = (
        np.array([0.0, 10.0, 10.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 10.0, 10.0, 0.0]),
    )
    hole = (
        np.array([3.0, 7.0, 7.0, 3.0, 3.0]),
        np.array([3.0, 3.0, 7.0, 7.0, 3.0]),
    )
    part = (
        np.array([20.0, 24.0, 24.0, 20.0, 20.0]),
        np.array([0.0, 0.0, 4.0, 4.0, 0.0]),
    )
    idx = PolygonIndex(["donut"], [[outer, hole, part]])
    lon = np.array([5.0, 1.0, 8.0, 22.0, 15.0])
    lat = np.array([5.0, 1.0, 8.0, 2.0, 2.0])
    pts, _ = idx.match_points(lon, lat)
    # center (5,5) is IN the hole -> excluded; (1,1)/(8,8) in the annulus;
    # (22,2) in the disjoint part; (15,2) outside everything
    assert sorted(pts.tolist()) == [1, 2, 3]


def test_single_ring_tuple_backcompat():
    ring = (
        np.array([0.0, 4.0, 4.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 4.0, 4.0, 0.0]),
    )
    idx = PolygonIndex(["a"], [ring])  # bare tuple, round-2 call shape
    pts, _ = idx.match_points(np.array([2.0, 9.0]), np.array([2.0, 9.0]))
    assert pts.tolist() == [0]


def test_build_polygon_index_with_holes_fixture():
    pdf = generate_polygons(30, seed=11, holes=True)
    assert "rings" in pdf.columns
    idx = build_polygon_index(pdf)
    # donut polygons carry >1 ring
    assert any(len(r) > 1 for r in idx.rings)
    # a point in polygon 0's hole center must NOT match polygon 0
    row = pdf.iloc[0]
    assert len(row["rings"]) >= 2  # i % 3 == 0 and i % 5 == 0 -> hole + part
    cx = float(np.mean([p["x"] for p in row["rings"][0][:-1]]))
    cy = float(np.mean([p["y"] for p in row["rings"][0][:-1]]))
    _, polys = idx.match_points(np.array([cx]), np.array([cy]))
    assert 0 not in polys.tolist()


def test_default_fixture_unchanged_by_refactor():
    """holes=False output must stay byte-identical (golden stability)."""
    pdf = generate_polygons(8, seed=42)
    assert "rings" not in pdf.columns
    # spot-check a stable value against the committed golden's lineage:
    # same rng consumption order as round 2
    r0 = pdf.iloc[0]
    assert r0["polygon_id"] == "coll-0000"
    assert len(r0["ring"]) >= 6 and r0["ring"][0] == r0["ring"][-1]


def test_rasterize_donut_excludes_hole_interior():
    """Even-odd rasterization: tiles whose center sits strictly inside the
    hole (and that touch no ring vertex) are excluded; annulus and
    boundary tiles stay; a disjoint part contributes its own tiles."""
    from harvester_fgp_spark.geo.tiles import (
        rasterize_ring_to_tiles,
        rasterize_rings_to_tiles,
        unpack_tile,
    )

    z = 8
    outer = (
        np.array([0.0, 20.0, 20.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 20.0, 20.0, 0.0]),
    )
    hole = (
        np.array([6.0, 14.0, 14.0, 6.0, 6.0]),
        np.array([6.0, 6.0, 14.0, 14.0, 6.0]),
    )
    part = (
        np.array([30.0, 34.0, 34.0, 30.0, 30.0]),
        np.array([0.0, 0.0, 4.0, 4.0, 0.0]),
    )
    solid = set(rasterize_ring_to_tiles(*outer, z).tolist())
    donut = set(rasterize_rings_to_tiles([outer, hole, part], z).tolist())
    # the hole carves tiles OUT of the solid cover
    removed = solid - donut
    assert removed, "hole removed nothing"
    # every removed tile's center lies inside the hole
    from harvester_fgp_spark.geo.pip import points_in_ring

    zz, xx, yy = unpack_tile(np.array(sorted(removed)))
    nf = float(1 << z)
    cx = (xx + 0.5) / nf * 360.0 - 180.0
    cy = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (yy + 0.5) / nf))))
    assert points_in_ring(cx, cy, *hole).all()
    # the disjoint part adds tiles beyond the solid bbox
    added = donut - solid
    _, ax, _ = unpack_tile(np.array(sorted(added)))
    assert len(added) and (((ax + 0.5) / nf * 360.0 - 180.0) >= 29.0).all()


def test_polygon_tiles_operator_multi_ring(spark):
    from harvester_fgp_spark.operators.geo import polygon_tiles

    pdf = generate_polygons(12, seed=13, holes=True)
    import pyspark.sql.types as T

    ring_t = T.ArrayType(
        T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
    )
    schema = T.StructType(
        [
            T.StructField("polygon_id", T.StringType()),
            T.StructField("rings", T.ArrayType(ring_t)),
        ]
    )
    rows = [
        (r.polygon_id, [[(p["x"], p["y"]) for p in ring] for ring in r.rings])
        for r in pdf.itertuples()
    ]
    df = spark.createDataFrame(rows, schema=schema)
    out = polygon_tiles(df, z=8)
    assert out.count() > 0
    assert out.select("polygon_id").distinct().count() == 12


def test_rasterize_vertices_native_square(spark):
    """Declarative rasterizer sanity: a unit-aligned square in tile units
    covers exactly its grid cells (interior by center test, boundary by
    vertex tiles)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.geo import rasterize_vertices_native

    # square [10.2, 13.8] x [20.2, 22.8] in tile units at z=6
    vx = [10.2, 13.8, 13.8, 10.2]
    vy = [20.2, 20.2, 22.8, 22.8]
    verts = spark.createDataFrame(
        pd.DataFrame(
            {"pid": [0] * 4, "k": [4] * 4, "j": list(range(4)),
             "vx": vx, "vy": vy}
        )
    )
    got = {
        (r.tile_x, r.tile_y)
        for r in rasterize_vertices_native(verts, 6).collect()
    }
    exp = {(x, y) for x in (10, 11, 12, 13) for y in (20, 21, 22)}
    assert got == exp


def test_rasterize_sliver_covers_crossed_tiles():
    """Review regression: a thin sliver crosses tiles that contain no
    vertex and whose centers are outside — the vertex+center rule
    dropped them; the per-edge supercover must keep every column the
    strip passes through."""
    from harvester_fgp_spark.geo.tiles import (
        point_to_tile,
        rasterize_ring_to_tiles,
        unpack_tile,
    )

    z = 8
    ring = (
        np.array([0.0, 5.0, 5.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 0.1, 0.1, 0.0]),
    )
    got = rasterize_ring_to_tiles(*ring, z)
    _, xs, _ = unpack_tile(got)
    x_lo = int(point_to_tile(np.array([0.0]), np.array([0.05]), z)[0][0])
    x_hi = int(point_to_tile(np.array([5.0]), np.array([0.05]), z)[0][0])
    assert set(range(x_lo, x_hi + 1)) <= set(xs.tolist())


def test_rasterize_covers_every_interior_point_tile():
    """Exactness property (one direction): any point strictly inside the
    polygon (even-odd) must land in a rasterized tile."""
    from harvester_fgp_spark.geo.pip import points_in_ring
    from harvester_fgp_spark.geo.tiles import (
        pack_tile,
        point_to_tile,
        rasterize_rings_to_tiles,
    )

    rng = np.random.default_rng(23)
    for pdf_row in generate_polygons(15, seed=21, holes=True).itertuples():
        rings = [
            (
                np.array([p["x"] for p in ring]),
                np.array([p["y"] for p in ring]),
            )
            for ring in pdf_row.rings
        ]
        cover = set(rasterize_rings_to_tiles(rings, 8).tolist())
        w = min(r[0].min() for r in rings)
        e = max(r[0].max() for r in rings)
        s = min(r[1].min() for r in rings)
        n = max(r[1].max() for r in rings)
        px = rng.uniform(w, e, 400)
        py = rng.uniform(s, n, 400)
        inside = np.zeros(400, dtype=bool)
        for rx, ry in rings:
            inside ^= points_in_ring(px, py, rx, ry)
        if not inside.any():
            continue
        tx, ty = point_to_tile(px[inside], py[inside], 8)
        pt_tiles = pack_tile(np.full(int(inside.sum()), 8), tx, ty)
        missing = set(pt_tiles.tolist()) - cover
        assert not missing, (pdf_row.polygon_id, missing)


def test_rasterize_native_sliver_covers_crossed_tiles(spark):
    """Supercover regression for the DECLARATIVE path: a thin horizontal
    sliver in tile units (y in [3.4, 3.6], x in [1.2, 6.8]) crosses
    columns 2..5 without leaving a vertex in them and their centers
    (y=3.5) ARE inside here — so also check a sliver just ABOVE centers
    (y in [3.6, 3.8]) where the old vertex+center rule dropped the
    middle columns entirely."""
    from harvester_fgp_spark.operators.geo import rasterize_vertices_native

    def _run(y0, y1):
        quad = [(1.2, y0), (6.8, y0), (6.8, y1), (1.2, y1)]
        rows = [
            (0, 4, j, float(x), float(y)) for j, (x, y) in enumerate(quad)
        ]
        df = spark.createDataFrame(
            rows, "pid long, k int, j int, vx double, vy double"
        )
        return {
            (r["tile_x"], r["tile_y"])
            for r in rasterize_vertices_native(df, 6).collect()
        }

    off_center = _run(3.6, 3.8)  # centers (y+0.5) never inside
    assert {(x, 3) for x in range(1, 7)} <= off_center


def _pip_property_points(idx, rng, vertex_step=1):
    """Global uniform points, points over the fixture's Canada window,
    and, every ``vertex_step``-th, ring vertices and points on edges placed
    with points_in_ring's own crossing arithmetic (on-boundary cases: a
    cast that reorders that arithmetic flips some of them)."""
    x = np.concatenate([rx for p in idx.rings for rx, _ in p])
    y = np.concatenate([ry for p in idx.rings for _, ry in p])
    x1, y1, x2, y2 = x[:-1], y[:-1], x[1:], y[1:]
    sloped = y1 != y2
    x1, y1, x2, y2 = x1[sloped], y1[sloped], x2[sloped], y2[sloped]
    my = y1 + rng.uniform(0.05, 0.95, len(y1)) * (y2 - y1)
    mx = x1 + (my - y1) * (x2 - x1) / (y2 - y1)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 1500), rng.uniform(-145, -48, 1500),
         x[::vertex_step], mx[::vertex_step]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 1500), rng.uniform(40, 72, 1500),
         y[::vertex_step], my[::vertex_step]]
    )
    return lon, lat


def _assert_one_pass_equals_brute(idx, lon, lat):
    pts, polys = idx.match_points(lon, lat)
    pairs = list(zip(pts.tolist(), polys.tolist()))
    assert len(pairs) == len(set(pairs))
    assert (np.diff(pts) >= 0).all()  # point-major
    # per-ring XOR over EVERY polygon's (already dateline-split) rings
    assert set(pairs) == _brute(idx.rings, lon, lat)
    return pairs


def test_one_pass_pip_equals_per_ring_xor_on_holes_fixture():
    """One ray cast over all (candidate, edge) pairs == brute-force
    per-ring XOR over every polygon: 2,000 fixture polygons with holes,
    multipolygon parts and concave rings (every 17th), global points and
    every 7th ring vertex and on-edge point (all of them make the brute
    force ~25 s)."""
    pdf = generate_polygons(2000, seed=7, holes=True)
    idx = build_polygon_index(pdf)
    lon, lat = _pip_property_points(idx, np.random.default_rng(3), vertex_step=7)
    pairs = _assert_one_pass_equals_brute(idx, lon, lat)
    assert len(pairs) > 500
    concave = {i for i in range(2000) if i % 17 == 0}
    assert concave & {p for _, p in pairs}


def test_one_pass_pip_concave_and_dateline_rings():
    """Concave stars (many straddling edges per ray) and a ring that
    crosses the antimeridian (split into two parts at index build)."""
    rng = np.random.default_rng(17)
    rings, ids = [], []
    for i in range(60):
        k = 2 * int(rng.integers(4, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(2, 9) * np.where(np.arange(k) % 2, 0.3, 1.0)
        cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
        rx = np.append(cx + rad * np.cos(ang), cx + rad[0] * np.cos(ang[0]))
        ry = np.append(cy + rad * np.sin(ang), cy + rad[0] * np.sin(ang[0]))
        rings.append([{"x": float(x), "y": float(y)} for x, y in zip(rx, ry)])
        ids.append(f"star-{i}")
    fiji = [(178.0, -20.0), (-176.0, -20.0), (-177.0, -12.0), (179.0, -10.0),
            (177.0, -15.0), (178.0, -20.0)]
    rings.append([{"x": x, "y": y} for x, y in fiji])
    ids.append("fiji")
    idx = build_polygon_index(pd.DataFrame({"polygon_id": ids, "ring": rings}))
    assert len(idx.rings[-1]) == 2  # split at the antimeridian
    lon, lat = _pip_property_points(idx, np.random.default_rng(5))
    lon = np.concatenate([lon, [179.5, -179.5, 178.5, -175.0]])
    lat = np.concatenate([lat, [-15.0, -15.0, -21.0, -15.0]])
    pairs = _assert_one_pass_equals_brute(idx, lon, lat)
    n = len(lon)
    fiji_hits = {p for p, poly in pairs if poly == len(ids) - 1}
    assert {n - 4, n - 3} <= fiji_hits and not {n - 2, n - 1} & fiji_hits


def test_one_pass_pip_chunking_and_empty_batches(monkeypatch):
    """Chunk boundaries (down to chunks smaller than one polygon's edge
    list) do not change the verdicts; an empty batch and a batch with no
    candidates return empty int64 pairs."""
    from harvester_fgp_spark.geo import pip as P

    pdf = generate_polygons(300, seed=5, holes=True)
    idx = build_polygon_index(pdf)
    lon, lat = _pip_property_points(idx, np.random.default_rng(8))
    whole = idx.match_points(lon, lat)
    for chunk in (1, 7, 64, 1000):
        monkeypatch.setattr(P, "_CAST_CHUNK", chunk)
        got = idx.match_points(lon, lat)
        assert all((g == w).all() for g, w in zip(got, whole)), chunk
    for lo, la in ((np.empty(0), np.empty(0)), (np.array([10.0, 120.0]), np.array([-80.0, 0.0]))):
        pts, polys = idx.match_points(lo, la)
        assert len(pts) == len(polys) == 0
        assert pts.dtype == polys.dtype == np.int64
