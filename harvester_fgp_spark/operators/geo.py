"""Geospatial DataFrame stages G1-G7 (SURVEY.md §2.4).

Division of labor, chosen for scale:
- NATIVE Spark expressions (whole-stage codegen, no Python): cell encode
  (G1 — Morton interleave via the magic-number spread, pure shift/mask
  ops), tile assign (G7 point path), cell parent (G3), haversine (G6).
- Exact PIP (G4) has two forms. ``build_polygon_index``
  makes the broadcast ``PolygonIndex`` that the pipeline's fused
  ``mapInArrow`` stage probes (R-tree candidates, vectorized ray cast);
  ``pip_join_native`` is the zero-Python form — a coarse broadcast
  equi-join on COVER_LEVEL cells prunes candidates JVM-side, then a
  higher-order ray cast decides membership. The numpy G1 kernel
  (geo.cells.encode) is the test oracle for the native cell encode.
- Python only where the kernel has no native form: polygon
  rasterization (``polygon_tiles``) and ring simplification
  (``simplify_rings``), each one ``mapInArrow`` stage.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StructField, StructType
from pyspark.sql.window import Window

from ..geo import cells as _cells
from ..geo import pip as _pip
from ..geo import tiles as _tiles
from ..sources.tables import local_table


def _ring_xy(ring) -> "tuple[np.ndarray, np.ndarray]":
    """Struct-row ring -> (x, y) float64 arrays — shared by the PIP index
    builder, the coarse cell-map, and the tile rasterizer (was
    copy-pasted in all three; round-3 review dedup)."""
    return (
        np.array([p["x"] for p in ring], dtype=np.float64),
        np.array([p["y"] for p in ring], dtype=np.float64),
    )

# --- G1: point -> cell ---------------------------------------------------------


def _spread_bits_col(v: Column) -> Column:
    """Native Morton bit-spread (mirrors geo.cells._part1by1): bit i -> 2i."""
    masks = (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    )
    v = v.bitwiseAND(F.lit(0x00000000FFFFFFFF))
    for shift, mask in masks:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def grid_xy_cols(lon: Column, lat: Column, level: int) -> "tuple[Column, Column]":
    """Level-k grid quantization (x from lon, y from 90-lat, clamped) as
    native expressions — the ONE Spark form of geo.cells.lonlat_to_xy
    (same IEEE op order), shared by every cell key, cover and Hilbert id."""
    n = 1 << level
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    y = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))
    nmax, zero = F.lit(n - 1), F.lit(0)
    return (
        F.greatest(zero, F.least(nmax, x)).cast("long"),
        F.greatest(zero, F.least(nmax, y)).cast("long"),
    )


def grid_xy_sql(lon_expr: str, lat_expr: str, level: int) -> "tuple[str, str]":
    """DuckDB longhand twin of ``grid_xy_cols``."""
    n = 1 << level
    x = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {float(n)}) AS BIGINT)))"
    y = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((90.0 - {lat_expr}) / 180.0 * {float(n)}) AS BIGINT)))"
    return x, y


def morton_col(x: Column, y: Column) -> Column:
    """Morton interleave of grid positions, x in the even bits — the
    Spark twin of geo.cells.interleave_xy."""
    return _spread_bits_col(x).bitwiseOR(F.shiftleft(_spread_bits_col(y), 1))


def cell_encode_col(
    lon: Column, lat: Column, level: int = _cells.DEFAULT_LEVEL
) -> Column:
    """G1 as a pure-JVM expression — stays inside whole-stage codegen.

    Exactly mirrors geo.cells.encode (same IEEE op order for the grid
    quantization, same interleave); equality is property-tested in
    tests/test_operators_spark.py.
    """
    return morton_col(*grid_xy_cols(lon, lat, level))


# --- G3: cell parent (NATIVE — stays in codegen) --------------------------------


def cell_parent_col(
    cell: Column, level: int, parent_level: int
) -> Column:
    """Prefix truncation as a JVM-side shift; the J3 range-join key."""
    if parent_level > level:
        raise ValueError("parent_level must be <= level")
    return F.shiftrightunsigned(cell, 2 * (level - parent_level))


# --- G6: haversine (NATIVE) ------------------------------------------------------

EARTH_RADIUS_KM = 6371.0088


def haversine_km_col(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = p2 - p1, F.radians(lon2) - F.radians(lon1)
    a = F.sin(dp / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dl / 2) ** 2
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def bbox_center_lon_col(west: Column, east: Column) -> Column:
    """Antimeridian-aware bbox center longitude, native (mirrors
    geo.cells.bbox_center_lon): plain midpoint when west <= east, wrapped
    midpoint normalized to (-180, 180] when the box crosses the dateline."""
    raw = (west + east) / F.lit(2.0)
    m = raw + F.lit(180.0)
    m = F.when(m > 180.0, m - F.lit(360.0)).otherwise(m)
    return F.when(west <= east, raw).otherwise(m)


# --- G7: point -> web-mercator tile (NATIVE) --------------------------------------


def tile_cols(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """OSM slippy formula as native expressions (asinh via ln form)."""
    n = F.lit(float(1 << z))
    lat_c = F.greatest(
        F.lit(-_tiles.MERC_LAT_MAX), F.least(F.lit(_tiles.MERC_LAT_MAX), lat)
    )
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    lat_rad = F.radians(lat_c)
    # asinh(t) = ln(t + sqrt(t^2 + 1)) — matches the DuckDB oracle longhand
    t = F.tan(lat_rad)
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    y = F.floor((F.lit(1.0) - asinh_t / F.lit(float(np.pi))) / F.lit(2.0) * n)
    nmax = F.lit((1 << z) - 1)
    x = F.greatest(F.lit(0), F.least(nmax, x)).cast("int")
    y = F.greatest(F.lit(0), F.least(nmax, y)).cast("int")
    return x, y


def with_tile(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    z: int = _tiles.DEFAULT_TILE_Z,
) -> DataFrame:
    x, y = tile_cols(F.col(lon_col), F.col(lat_col), z)
    return (
        df.withColumn("tile_z", F.lit(z).cast("int"))
        .withColumn("tile_x", x)
        .withColumn("tile_y", y)
    )


def packed_tile_col(z: Column, x: Column, y: Column) -> Column:
    """(z,x,y) -> int64 tile id — native shifts (checkpoint key)."""
    return (
        F.shiftleft(z.cast("long"), 58)
        .bitwiseOR(F.shiftleft(x.cast("long"), 29))
        .bitwiseOR(y.cast("long"))
    )


# --- G4: broadcast-R-tree point-in-polygon join ------------------------------------


def build_polygon_index(polygons_pdf) -> _pip.PolygonIndex:
    """polygons (FIXTURES.md §2 pandas form) -> broadcastable PolygonIndex.

    With a ``rings`` column (list of rings per polygon — holes and
    multipolygon parts, round 3) every ring feeds the even-odd PIP;
    otherwise the single ``ring`` column is the 1-ring case.

    Dateline rings (round 4): any ring crossing the antimeridian is
    split into in-range parts first (geo.cells.split_ring_at_dateline) —
    planar ray casting would otherwise treat the lon jump as a
    hemisphere-wide edge and misclassify everything. A split polygon's
    candidate bbox spans both sides (near-global): candidate inflation
    only — the exact per-part test decides membership."""

    if "rings" in polygons_pdf.columns:
        rings = [
            _cells.split_rings_dateline([_ring_xy(r) for r in poly])
            for poly in polygons_pdf["rings"]
        ]
    else:
        rings = [
            _cells.split_ring_at_dateline(*_ring_xy(ring))
            for ring in polygons_pdf["ring"]
        ]
    return _pip.PolygonIndex(polygons_pdf["polygon_id"].tolist(), rings)


def _polygon_cell_map_rows(polygons_pdf) -> list[tuple]:
    """Driver-side (tiny dimension): COVER_LEVEL cell -> candidate
    polygons, each carrying its polygon_id and a FLAT edge array across
    all rings (even-odd parity over concatenated ring edges == XOR of
    per-ring parities, so holes/multipolygon parts need no special
    casing). One row per cover cell: (cell, [{polygon_id, edges}]).

    Dateline rings split into in-range parts first (round 4), and the
    cover is the UNION of per-ring bboxes — a Fiji polygon contributes
    cells around +179 and -179, never the world-spanning band its
    global bbox would cover (union-of-ring covers is also correct for
    holes: a hole lies inside its outer ring's bbox)."""
    from collections import defaultdict

    multi = "rings" in polygons_pdf.columns
    cell_map: dict[int, list] = defaultdict(list)
    for row in polygons_pdf.itertuples():
        rings = _cells.split_rings_dateline(
            [_ring_xy(r) for r in row.rings] if multi else [_ring_xy(row.ring)]
        )
        edges = [
            (float(rx[i]), float(ry[i]), float(rx[i + 1]), float(ry[i + 1]))
            for rx, ry in rings
            for i in range(len(rx) - 1)
        ]
        poly = (row.polygon_id, edges)
        cells: set[int] = set()
        for rx, ry in rings:
            for cell in _cells.cover_bbox(
                float(rx.min()), float(ry.min()), float(rx.max()), float(ry.max())
            ):
                cells.add(int(cell))
        for cell in cells:
            cell_map[cell].append(poly)
    return [(cell, polys) for cell, polys in cell_map.items()]


_CELL_MAP_SCHEMA = (
    "cell long, cands array<struct<polygon_id:string,"
    "edges:array<struct<x1:double,y1:double,x2:double,y2:double>>>>"
)


def pip_join_native(
    spark: SparkSession,
    points: DataFrame,
    polygons_pdf,
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "left",
) -> DataFrame:
    """G4 with ZERO Python (round 3): exact even-odd PIP as one broadcast
    equi-join plus higher-order array lambdas — no Arrow boundary at all.

    Plan: point -> its COVER_LEVEL cell (native Morton) -> left broadcast
    join against the cell->candidates map -> per candidate polygon, the
    ray cast is size(filter(edges, crossing)) % 2 over the polygon's
    broadcast edge array -> explode_outer emits matches (or one null row
    for unmatched points when how='left').

    The crossing arithmetic replicates geo.pip.points_in_ring op-for-op
    (same IEEE order; horizontal edges yield NaN/inf in the dead branch
    of the conjunction exactly like the numpy errstate-ignored kernel),
    so matches are IDENTICAL to ``PolygonIndex.match_points`` (the fused
    stage's PIP) — candidate-set differences (R-tree bbox vs cover
    cells) cannot matter because both are supersets and the exact test
    decides membership. Identity is asserted in
    tests/test_native_pipeline.py and tests/test_dateline_polygons.py.

    The cell map is a ``LocalRelation`` (``sources.tables.local_table``):
    it reaches the broadcast with exact size statistics and runs no
    Python task, so no second worker pool starts for it.
    """
    rows = _polygon_cell_map_rows(polygons_pdf)
    cmap = local_table(spark, rows, _CELL_MAP_SCHEMA)
    px, py = F.col(lon_col), F.col(lat_col)
    pts = points.withColumn(
        "_cell_cov", cell_encode_col(px, py, _cells.COVER_LEVEL)
    )
    j = pts.join(
        F.broadcast(cmap), pts["_cell_cov"] == cmap["cell"], "left"
    ).drop("cell", "_cell_cov")

    def _crossing(e: Column) -> Column:
        straddle = (e["y1"] > py) != (e["y2"] > py)
        x_at = e["x1"] + (py - e["y1"]) * (e["x2"] - e["x1"]) / (
            e["y2"] - e["y1"]
        )
        return straddle & (px < x_at)

    matched_ids = F.transform(
        F.filter(
            F.col("cands"),
            lambda p: F.size(F.filter(p["edges"], _crossing)) % 2 == 1,
        ),
        lambda p: p["polygon_id"],
    )
    out = j.withColumn("polygon_id", F.explode_outer(matched_ids)).drop("cands")
    if how == "inner":
        out = out.filter(F.col("polygon_id").isNotNull())
    return out


# --- G7 raster<->vector: polygon -> tile rasterization --------------------------------


def polygon_tiles(polygons: DataFrame, z: int = _tiles.DEFAULT_TILE_Z) -> DataFrame:
    """Rasterize each polygon to the set of z-level tiles it covers.

    mapInArrow over the ring arrays (scanline kernel in geo.tiles); tile
    ids come back packed and are unpacked with native shifts. A ``rings``
    column (holes / multipolygon parts, round 3) rasterizes under the
    same even-odd rule as the PIP index; otherwise the single ``ring``
    column is used. A null ring covers no tile. Output: (polygon_id,
    tile_z, tile_x, tile_y), one row per covered tile.
    """
    multi = "rings" in polygons.columns
    in_cols = ["polygon_id", "rings" if multi else "ring"]

    def _rast(batches):
        for b in batches:
            pids: list[str] = []
            tids: list[int] = []
            for pid, poly in zip(
                b.column(0).to_pylist(), b.column(1).to_pylist()
            ):
                if poly is None:
                    continue
                # dateline rings split into in-range parts (round 4):
                # even-odd across disjoint parts rasterizes their union
                rings = _cells.split_rings_dateline(
                    [_ring_xy(r) for r in poly] if multi else [_ring_xy(poly)]
                )
                t = _tiles.rasterize_rings_to_tiles(rings, z)
                pids.extend([pid] * len(t))
                tids.extend(t.tolist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(pids, pa.string()), pa.array(tids, pa.int64())],
                names=["polygon_id", "tile_id"],
            )

    raw = polygons.select(*in_cols).mapInArrow(
        _rast, "polygon_id string, tile_id long"
    )
    mask = F.lit((1 << 29) - 1)
    return raw.select(
        "polygon_id",
        F.shiftrightunsigned(F.col("tile_id"), 58).cast("int").alias("tile_z"),
        F.shiftrightunsigned(F.col("tile_id"), 29).bitwiseAND(mask).cast("int").alias("tile_x"),
        F.col("tile_id").bitwiseAND(mask).cast("int").alias("tile_y"),
    )


def rasterize_vertices_native(verts: DataFrame, z: int) -> DataFrame:
    """G7 raster<->vector, FULLY DECLARATIVE (round 3): polygon -> tile
    set with zero Python — candidate tiles from the bbox grid, even-odd
    ray cast as a join + parity aggregate, vertex tiles unioned in. The
    whole plan is Catalyst joins/aggregates (broadcastable edge side),
    which is the shape that survives 10^12 tiles — and, unlike the numpy
    kernel, it is SQL-expressible, so the driver gate value-checks it
    against a DuckDB longhand (polygon_raster_sql).

    COVER RULE — EXACT (round-3 review fix, matching the numpy kernel's
    semantics in ITS projected-plane geometry): a tile overlaps the
    polygon iff an edge passes through it (per-edge SUPERCOVER — edges
    are straight in tile units here, so the column range is
    floor(min x)..floor(max x) and each column's row span comes from
    linear interpolation at the column boundaries) or its center is
    inside (even-odd). Vertex tiles are the degenerate supercover case,
    so the old contains-a-vertex union is subsumed; the old rule missed
    tiles a thin sliver crossed without leaving a vertex.

    Input `verts`: one row per polygon vertex — (pid, k, j, vx, vy) with
    k = vertex count, j = 0..k-1 in ring order, and (vx, vy) ALREADY in
    continuous tile units at zoom `z` (web-mercator projection divided
    into 2^z; tile cell = unit square, center = (gx+.5, gy+.5)). Ray
    casting runs in that plane: same even-odd semantics as geo.pip,
    exact IEEE arithmetic on the given vertices.
    """
    nmax = F.lit((1 << z) - 1).cast("long")
    zero = F.lit(0).cast("long")

    def _clamp(c: Column) -> Column:
        return F.greatest(zero, F.least(nmax, F.floor(c).cast("long")))

    a = verts.select(
        "pid", "k", "j", F.col("vx").alias("x1"), F.col("vy").alias("y1")
    ).alias("va")
    b = verts.select(
        F.col("pid").alias("pid_b"),
        F.col("j").alias("jb"),
        F.col("vx").alias("x2"),
        F.col("vy").alias("y2"),
    ).alias("vb")
    edges = a.join(
        b,
        (F.col("va.pid") == F.col("pid_b"))
        & (F.col("jb") == (F.col("va.j") + 1) % F.col("va.k")),
    ).select("pid", "x1", "y1", "x2", "y2")

    bbox = verts.groupBy("pid").agg(
        _clamp(F.min("vx")).alias("gx0"),
        _clamp(F.max("vx")).alias("gx1"),
        _clamp(F.min("vy")).alias("gy0"),
        _clamp(F.max("vy")).alias("gy1"),
    )
    cand = (
        bbox.withColumn("gx", F.explode(F.sequence(F.col("gx0"), F.col("gx1"))))
        .withColumn("gy", F.explode(F.sequence(F.col("gy0"), F.col("gy1"))))
        .select("pid", "gx", "gy")
    )
    cxc = F.col("gx") + F.lit(0.5)
    cyc = F.col("gy") + F.lit(0.5)
    straddle = (F.col("y1") > cyc) != (F.col("y2") > cyc)
    # the division only evaluates under the straddle guard (CaseWhen is
    # lazy per row) — no ANSI divide-by-zero on horizontal edges
    x_at = F.col("x1") + (cyc - F.col("y1")) * (F.col("x2") - F.col("x1")) / (
        F.col("y2") - F.col("y1")
    )
    hit = F.when(straddle & (cxc < x_at), 1).otherwise(0)
    inside = (
        cand.join(edges, "pid")
        .groupBy("pid", "gx", "gy")
        .agg(F.sum(hit).alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
        .select("pid", "gx", "gy")
    )
    # per-edge supercover: explode crossed columns, interpolate the row
    # span at the column's boundary x's (lazy CASE guards the vertical-
    # edge division, like the crossing expression above)
    lo_x = F.least(F.col("x1"), F.col("x2"))
    hi_x = F.greatest(F.col("x1"), F.col("x2"))
    cols = edges.withColumn(
        "gx", F.explode(F.sequence(_clamp(lo_x), _clamp(hi_x)))
    )
    # clamp the interpolation x's to the SEGMENT as well as the column:
    # for an edge pushed fully out of the clamped plane, greatest(lo, gx)
    # alone lands off-segment and extrapolates a spurious row span
    xa = F.least(F.greatest(lo_x, F.col("gx").cast("double")), hi_x)
    xb = F.greatest(F.least(hi_x, F.col("gx").cast("double") + F.lit(1.0)), lo_x)
    vertical = F.col("x1") == F.col("x2")
    ya = F.when(vertical, F.col("y1")).otherwise(
        F.col("y1")
        + (xa - F.col("x1")) * (F.col("y2") - F.col("y1"))
        / (F.col("x2") - F.col("x1"))
    )
    yb = F.when(vertical, F.col("y2")).otherwise(
        F.col("y1")
        + (xb - F.col("x1")) * (F.col("y2") - F.col("y1"))
        / (F.col("x2") - F.col("x1"))
    )
    sc = cols.select(
        "pid",
        "gx",
        F.explode(
            F.sequence(_clamp(F.least(ya, yb)), _clamp(F.greatest(ya, yb)))
        ).alias("gy"),
    )
    return (
        inside.unionByName(sc)
        .distinct()
        .select("pid", F.col("gx").alias("tile_x"), F.col("gy").alias("tile_y"))
    )


# --- G5: kNN via cell-prefix range join ----------------------------------------------


def cell_boundary_dist_km(lat: Column, lon: Column, level: int) -> Column:
    """Lower bound (km) on the great-circle distance from a point to the
    BOUNDARY of its own level-`level` grid cell — the exact-kNN
    termination radius: every point outside the cell is at least this far
    away (the geodesic to it must cross the boundary, and each of the
    four edges is bounded below by its full-parallel / full-meridian
    distance: R*|dlat| along the meridian, asin(sin(dlon)*cos(lat))
    cross-track to the meridian). All native trig — stays in codegen.

    ANTIMERIDIAN (round 5): the bound stays valid at ±180 — a neighbor
    across the dateline is reached by a geodesic that crosses the ±180
    meridian, which IS the cell's east/west edge, so the cross-track
    term bounds it like any other out-of-cell point
    (tests/test_knn_dateline.py pins this). At lon == +180.0 exactly
    the point sits ON its cell's edge and the bound degrades to <= 0 —
    conservative, never wrong: exact kNN then simply never terminates
    early and escalates to level 0.
    """
    n = float(1 << level)
    # grid_xy_cols' quantizer WITHOUT its clamp and long cast: at lon ==
    # +180 x is n, whose west edge is the point itself (bound <= 0 as
    # documented above); the edges below need the raw doubles
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    y = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n))
    west = x / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    east = (x + 1) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    north = F.lit(90.0) - y / F.lit(n) * F.lit(180.0)
    south = F.lit(90.0) - (y + 1) / F.lit(n) * F.lit(180.0)
    r = F.lit(EARTH_RADIUS_KM)
    coslat = F.cos(F.radians(lat))
    d_ns = F.least(
        r * F.radians(north - lat), r * F.radians(lat - south)
    )
    d_ew = F.least(
        r * F.asin(coslat * F.sin(F.radians(lon - west))),
        r * F.asin(coslat * F.sin(F.radians(east - lon))),
    )
    return F.least(d_ns, d_ew)


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str,
    cand_id: str,
    level: int = _cells.DEFAULT_LEVEL,
    prefix_level: int = 4,
    expand_underfilled: bool = True,
    exact: bool = False,
    rank_round: int | None = None,
) -> DataFrame:
    """G5: k nearest candidates per query point.

    Plan shape (SURVEY §2.5 J3): equi-join on the shared cell prefix at
    `prefix_level` (coarse neighborhoods) -> exact haversine (native) ->
    Window row_number <= k. With `expand_underfilled`, queries whose
    neighborhood holds < k candidates get a second, coarser pass
    (prefix_level - 2 == a 4x4 cell ring) and the union is re-ranked —
    the "ring-expansion fallback" of SURVEY §2.4 G5. The underfilled set
    is derived from a per-prefix candidate histogram (count per prefix ==
    count each query's join would produce), NOT by re-consuming the join
    output — so no subtree is evaluated twice and nothing needs a persist
    (round-3 fix: the old shape cached `pairs` and leaked it).

    `exact=True` upgrades approximate cell-join kNN to PROVABLY exact:
    after ranking at each level L of the schedule [prefix_level,
    prefix_level-2, ..., 0], a query is DONE iff it has >= k candidates
    and its k-th distance <= cell_boundary_dist_km(L) (no point outside
    the shared cell can beat rank k, since reaching it crosses the cell
    boundary). Unsatisfied queries escalate to the next coarser level;
    level 0 is one world cell == all candidates, so termination is total.
    At scale the escalation set shrinks geometrically (only queries whose
    k-th neighbor sits near a cell edge), keeping every pass an
    equi-join — never a nested loop.

    DATELINE GUARANTEE (round 5): cell prefixes on opposite sides of
    ±180 are never adjacent in Morton space, so no prefix level > 0 can
    see a cross-dateline neighbor — but a query hugging the dateline
    also has a tiny cell_boundary_dist_km (the ±180 meridian is its own
    cell edge), so it cannot terminate while a closer candidate sits
    across the line; it escalates to level 0, where the single world
    cell joins ALL candidates. Exactness for Fiji-style layouts is
    proven in tests/test_knn_dateline.py (approximate mode provably
    misses the same neighbors there). Approximate mode near the
    dateline is biased away from cross-line candidates by construction
    — use exact=True where that matters.

    `rank_round` ranks on round(dist, rank_round) with cand_id tiebreak
    (matches engines that rank on rounded output, e.g. the DuckDB
    oracle); the exactness test adds a 2e-6 km margin so rounding slop
    cannot admit an out-of-cell candidate.

    Both sides must carry `cell_id` at `level` plus lat/lon columns named
    (q_lat, q_lon) / (c_lat, c_lon).

    Contract: the candidates are ALWAYS broadcast — every prefix pass
    streams the queries through one broadcast hash join — so
    `candidates` must be dimension-sized (e.g. collection centroids,
    <= a few hundred MB serialized). Large-x-large kNN is out of scope.
    """
    from pyspark.sql.window import Window

    def _pass(pfx_level: int, qs: DataFrame) -> DataFrame:
        q = qs.withColumn(
            "_pfx", cell_parent_col(F.col("cell_id"), level, pfx_level)
        ).drop("cell_id")
        c = candidates.withColumn(
            "_pfx", cell_parent_col(F.col("cell_id"), level, pfx_level)
        ).drop("cell_id")
        return q.join(F.broadcast(c), "_pfx").drop("_pfx")

    def _rank(pairs: DataFrame) -> DataFrame:
        d_raw = haversine_km_col(
            F.col("q_lat"), F.col("q_lon"), F.col("c_lat"), F.col("c_lon")
        )
        ranked = pairs.withColumn("_d_raw", d_raw).withColumn(
            "dist_km",
            F.round(F.col("_d_raw"), rank_round)
            if rank_round is not None
            else F.col("_d_raw"),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("dist_km").asc(), F.col(cand_id).asc()
        )
        return ranked.withColumn("knn_rank", F.row_number().over(w))

    if exact:
        levels = list(range(prefix_level, 0, -2))
        levels.append(0)
        remaining = queries
        outs: list[DataFrame] = []
        for lv in levels:
            ranked = _rank(_pass(lv, remaining))
            if lv == 0:
                outs.append(
                    ranked.filter(F.col("knn_rank") <= k).drop("_d_raw")
                )
                break
            wq = Window.partitionBy(query_id)
            stats = ranked.withColumn(
                "_n", F.count("*").over(wq)
            ).withColumn(
                "_dk",
                F.max(
                    F.when(F.col("knn_rank") <= k, F.col("_d_raw"))
                ).over(wq),
            )
            bound = cell_boundary_dist_km(F.col("q_lat"), F.col("q_lon"), lv)
            sat = (F.col("_n") >= k) & (F.col("_dk") + F.lit(2e-6) <= bound)
            # localCheckpoint the SMALL filtered output (<= k rows per
            # satisfied query): the big join+window subtree behind
            # ``stats`` would otherwise re-execute once per remaining
            # level (out_lv + the whole remaining chain reference it —
            # Spark never CSEs multi-consumer subtrees). ``done`` derives
            # from the checkpointed frame (a satisfied query always has
            # its rank<=k rows there), so each level's join runs ONCE.
            out_lv = (
                stats.filter(sat & (F.col("knn_rank") <= k))
                .drop("_n", "_dk", "_d_raw")
                .localCheckpoint()
            )
            outs.append(out_lv)
            done = out_lv.select(query_id).distinct()
            remaining = remaining.join(
                done, query_id, "left_anti"
            ).localCheckpoint()
        out = outs[0]
        for extra in outs[1:]:
            out = out.unionByName(extra)
        return out

    pairs = _pass(prefix_level, queries)
    if expand_underfilled and prefix_level >= 2:
        cand_counts = (
            candidates.withColumn(
                "_pfx", cell_parent_col(F.col("cell_id"), level, prefix_level)
            )
            .groupBy("_pfx")
            .agg(F.count("*").alias("_n"))
        )
        underfilled = (
            queries.withColumn(
                "_pfx", cell_parent_col(F.col("cell_id"), level, prefix_level)
            )
            .join(F.broadcast(cand_counts), "_pfx", "left")
            .filter(F.coalesce(F.col("_n"), F.lit(0)) < k)
            .drop("_pfx", "_n")
        )
        pairs = pairs.unionByName(
            _pass(prefix_level - 2, underfilled)
        ).dropDuplicates([query_id, cand_id])

    return _rank(pairs).filter(F.col("knn_rank") <= k).drop("_d_raw")


# --- G1b: geohash base32 encode (NATIVE) -------------------------------------------

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Classic base32 geohash, fully native (codegen): quantize lon/lat to
    ``5*precision/2`` bits each, Morton-interleave with the magic-number
    spread (lon occupies the first/odd-from-LSB bit lanes per the geohash
    bit order), then map each 5-bit group through the base32 alphabet.

    Even precisions only (symmetric lon/lat bit budgets keep the
    interleave a plain Morton spread); a coarser geohash is the string
    PREFIX — geohash bits are progressive, so ``substr(gh6, 1, 3)`` IS
    the precision-3 geohash and no second encode is needed.

    Interop note: this is the de-facto geohash.org layout (verified
    against published vectors, tests/test_round6_ops.py), giving the
    engine an interchange cell id alongside the S2-style Morton cell —
    prefix joins and range scans work identically on either.
    """
    lon_q, lat_q = geohash_quantize_col(lon, lat, precision)
    return _geohash_chars(lon_q, lat_q, precision)


def _geohash_precision_check(precision: int) -> int:
    if precision % 2 != 0 or not (2 <= precision <= 12):
        raise ValueError("precision must be even, in [2, 12]")
    return 5 * precision // 2


def geohash_quantize_col(
    lon: Column, lat: Column, precision: int
) -> "tuple[Column, Column]":
    """(lon_q, lat_q): the geohash grid at ``precision`` (5*precision/2
    bits per axis, lat measured from the south pole, clamped);
    ``morton_col(lat_q, lon_q)`` is the integer geohash word."""
    half_bits = _geohash_precision_check(precision)
    n = float(1 << half_bits)
    nmax = F.lit((1 << half_bits) - 1)
    lon_q = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    lat_q = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n))
    lon_q = F.greatest(F.lit(0), F.least(nmax, lon_q)).cast("long")
    lat_q = F.greatest(F.lit(0), F.least(nmax, lat_q)).cast("long")
    return lon_q, lat_q


def _geohash_chars(lon_q: Column, lat_q: Column, precision: int) -> Column:
    # geohash bit 0 (MSB) is a lon bit; with even total bits the MSB sits
    # at an odd LSB-position, so lon takes the shifted spread lane
    word = morton_col(lat_q, lon_q)
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = [
        F.element_at(
            alphabet,
            (
                F.shiftright(word, 5 * (precision - 1 - i))
                .bitwiseAND(F.lit(31))
                .cast("int")
                + F.lit(1)
            ),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_neighbors_col(
    lon: Column, lat: Column, precision: int = 6
) -> Column:
    """The 8-neighborhood of a point's geohash cell as a SORTED
    ``array<string>`` — fully native. Longitude wraps across the
    antimeridian (mod-n on the quantized index); latitude neighbors past
    a pole are dropped (no wraparound), so polar cells emit 5.

    With the prefix property this is the standard expand-then-prefix-join
    pattern for geohash kNN / radius queries: a point's candidates live
    in its own cell + these neighbors at a precision matched to the
    radius.
    """
    half_bits = _geohash_precision_check(precision)
    n = 1 << half_bits
    lon_q, lat_q = geohash_quantize_col(lon, lat, precision)
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            lq = ((lon_q + F.lit(dx)) + F.lit(n)) % F.lit(n)
            tq = lat_q + F.lit(dy)
            gh = _geohash_chars(lq, tq, precision)
            out.append(
                F.when((tq >= 0) & (tq < F.lit(n)), gh).otherwise(F.lit(None))
            )
    return F.array_sort(
        F.filter(F.array(*out), lambda x: x.isNotNull())
    )


def geohash_sql_parts(
    lon_expr: str,
    lat_expr: str,
    precision: int = 6,
    lonq_name: str = "lonq",
    latq_name: str = "latq",
) -> "dict[str, str]":
    """DuckDB longhand twin of ``geohash_col``, as composable CTE pieces
    (same IEEE op order for the quantization, explicit shift/mask
    interleave terms, substr-based base32 lookup). Returns exprs for:
    ``lonq``/``latq`` over (lon, lat); ``word`` over columns named
    ``lonq_name``/``latq_name``; ``chars`` over a column named gword.
    Generated next to the native builder so Spark and oracle cannot
    drift."""
    half_bits = _geohash_precision_check(precision)
    n = 1 << half_bits
    terms = []
    for b in range(half_bits):
        terms.append(f"((({latq_name} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({lonq_name} >> {b}) & 1) << {2 * b + 1})")
    chars = [
        f"substr('{GEOHASH_BASE32}',"
        f" CAST((gword >> {5 * (precision - 1 - i)}) & 31 AS INT) + 1, 1)"
        for i in range(precision)
    ]
    return {
        "lonq": (
            f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({lon_expr} + 180.0)"
            f" / 360.0 * {float(n)}) AS BIGINT)))"
        ),
        "latq": (
            f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({lat_expr} + 90.0)"
            f" / 180.0 * {float(n)}) AS BIGINT)))"
        ),
        "word": "(" + " + ".join(terms) + ")",
        "chars": " || ".join(chars),
    }


# --- G7b: tile -> bbox decode (NATIVE inverse of tile_cols) ------------------------


def tile_bbox_cols(
    x: Column, y: Column, z: int, round_to: int = 9
) -> "tuple[Column, Column, Column, Column]":
    """(tile_x, tile_y) at zoom z -> (west, south, east, north) degrees.

    Inverse of the slippy formula: lon edges are linear; lat edges are
    the inverse Gudermannian ``degrees(atan(sinh(pi * (1 - 2*y/n))))``
    with sinh spelled as the exp identity so the same longhand runs in
    DuckDB. libm-backed (exp/atan), hence rounded to ``round_to`` before
    comparison per the repo's oracle-exactness rules.
    """
    n = F.lit(float(1 << z))
    west = x.cast("double") / n * F.lit(360.0) - F.lit(180.0)
    east = (x.cast("double") + F.lit(1.0)) / n * F.lit(360.0) - F.lit(180.0)

    def _lat(yy: Column) -> Column:
        t = F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * yy / n)
        sinh_t = (F.exp(t) - F.exp(-t)) / F.lit(2.0)
        return F.round(F.degrees(F.atan(sinh_t)), round_to)

    return (
        F.round(west, round_to),
        _lat(y.cast("double") + F.lit(1.0)),
        F.round(east, round_to),
        _lat(y.cast("double")),
    )


# --- G8: per-key trajectory stats (W2 lag + G6 haversine composite) ----------------


def track_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    order_tiebreak: str | None = None,
    leg_round: int = 6,
) -> DataFrame:
    """Per-key trajectory statistics: order each key's points by time,
    measure consecutive-leg haversine distances, aggregate to one row per
    key (n_legs, total length, longest leg).

    Scale shape: ONE shuffle — the window partitions by ``key_col`` and
    the following groupBy reuses that hash partitioning (no second
    Exchange; asserted by tests/test_round6_ops.py plan check). Legs are
    rounded to ``leg_round`` then summed as exact micro-unit BIGINTs, so
    the per-key totals are order-independent and engine-exact (the
    float-aggregate rule from CLAUDE.md applied to a libm kernel).
    """
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    leg = F.round(
        haversine_km_col(
            F.lag(lat_col).over(w),
            F.lag(lon_col).over(w),
            F.col(lat_col),
            F.col(lon_col),
        ),
        leg_round,
    )
    mult = 10**leg_round
    leg_units = F.round(leg * F.lit(float(mult))).cast("long")
    return (
        df.withColumn("_leg_units", leg_units)
        .groupBy(key_col)
        .agg(
            F.count("_leg_units").alias("n_legs"),
            F.sum("_leg_units").alias("track_units"),
            F.max("_leg_units").alias("max_leg_units"),
        )
    )


# --- G9: polygon area + centroid (shoelace, exact integer grid) --------------------


def polygon_area_centroid(
    verts: DataFrame,
    id_col: str = "pid",
    order_col: str = "j",
    x_col: str = "gx",
    y_col: str = "gy",
) -> DataFrame:
    """Planar shoelace area + centroid per polygon over INTEGER vertex
    coordinates (e.g. centi-degrees): every cross product and partial sum
    is exact BIGINT arithmetic, so the per-polygon signed double-area and
    centroid numerators are order-independent and engine-exact — the
    integer-grid analogue of the micro-unit float-aggregate rule.

    Input: one row per vertex (id, order, x, y), ring open (last vertex
    != first); the closing edge wraps via first_value over the partition.
    Outputs: ``area2`` = signed 2*A in grid units^2 (sign = orientation,
    CCW positive in y-up coords), ``cx_num``/``cy_num`` = 3*area2-scaled
    centroid numerators, and double centroids ``cx``/``cy`` in grid units
    (exact single divisions; NULL for degenerate zero-area polygons).

    Scale shape: one shuffle on ``id_col`` — the lead/first_value window
    and the groupBy share the partitioning.
    """
    w = Window.partitionBy(id_col).orderBy(order_col)
    wall = (
        Window.partitionBy(id_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    xn = F.coalesce(F.lead(x_col).over(w), F.first(x_col).over(wall))
    yn = F.coalesce(F.lead(y_col).over(w), F.first(y_col).over(wall))
    cross = F.col(x_col) * yn - xn * F.col(y_col)
    out = (
        verts.select(
            F.col(id_col),
            cross.alias("_cross"),
            ((F.col(x_col) + xn) * cross).alias("_cxn"),
            ((F.col(y_col) + yn) * cross).alias("_cyn"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_cross").alias("area2"),
            F.sum("_cxn").alias("cx_num"),
            F.sum("_cyn").alias("cy_num"),
        )
    )
    denom = F.lit(3.0) * F.col("area2").cast("double")
    safe = F.col("area2") != 0
    return out.select(
        id_col,
        "area2",
        "cx_num",
        "cy_num",
        F.when(safe, F.col("cx_num").cast("double") / denom).alias("cx"),
        F.when(safe, F.col("cy_num").cast("double") / denom).alias("cy"),
    )


def track_stops(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_leg_km: float = 2000.0,
    min_points: int = 2,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Stay-point (dwell) detection over per-key trajectories (Li et al.
    2008 reshaped for Spark): consecutive points whose connecting leg is
    <= ``max_leg_km`` island-group into one "stop"; stops with at least
    ``min_points`` points are emitted with their time span and an exact
    integer centroid accumulator.

    The island id is the gap-split running sum (lag + sum over the same
    key window — the sessionize pattern applied to SPACE instead of
    time). Thresholding compares micro-km BIGINTs so a leg landing
    exactly on the threshold is engine-exact, never a float coin flip.

    Scale shape: ONE shuffle — both windows and the final groupBy hash
    on ``key_col`` (HashPartitioning(key) satisfies the (key, stop)
    clustering), plan-asserted in tests. Centroids are emitted as exact
    centi-degree sums + counts rather than float averages so downstream
    consumers (and the DuckDB oracle) divide once, deterministically.
    """
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    leg_units = F.round(
        F.round(
            haversine_km_col(
                F.lag(lat_col).over(w),
                F.lag(lon_col).over(w),
                F.col(lat_col),
                F.col(lon_col),
            ),
            6,
        )
        * F.lit(1000000.0)
    ).cast("long")
    max_units = round(max_leg_km * 1e6)
    new_stop = F.when(
        leg_units.isNull() | (leg_units > F.lit(max_units)), 1
    ).otherwise(0)
    marked = df.withColumn("_new", new_stop).withColumn(
        "_stop",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    stops = (
        marked.groupBy(key_col, "_stop")
        .agg(
            F.count("*").alias("n_points"),
            F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias(
                "start_us"
            ),
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias(
                "end_us"
            ),
            F.sum(F.round(F.col(lat_col) * 100).cast("long")).alias(
                "sum_clat"
            ),
            F.sum(F.round(F.col(lon_col) * 100).cast("long")).alias(
                "sum_clon"
            ),
        )
        .filter(F.col("n_points") >= min_points)
    )
    return stops.select(
        key_col,
        F.col("_stop").cast("long").alias("stop_seq"),
        F.col("n_points").cast("long").alias("n_points"),
        "start_us",
        "end_us",
        "sum_clat",
        "sum_clon",
    )


# --- G10: Douglas-Peucker ring simplification (Arrow-batched kernel) ---------------


def simplify_rings(
    df: DataFrame,
    ring_col: str = "ring",
    tol: float = 0.05,
    out_col: str = "ring_simplified",
) -> DataFrame:
    """Douglas-Peucker simplification of a ``array<struct<x,y>>`` ring
    column (geo/simplify.py kernel) — the vector-side companion of the
    rasterizer: ships fewer vertices into PIP index builds and tile
    covers when collection polygons are over-digitized.

    Spark shape: the ring explodes to two parallel ``array<double>``
    columns natively (``transform``), one ``mapInArrow`` stage appends the
    keep-MASK (array<boolean>), and the simplified ring is rebuilt
    natively by ``filter(arrays_zip(...))`` — the Python boundary carries
    only doubles in / booleans out, never structs. A null ring gets a
    null mask and so a null ``out_col``. Per-row kernel cost is
    O(n log n) on vertex count; batches amortize the Arrow transfer.
    """
    from ..geo import simplify as _simplify

    xy = df.withColumn(
        "_xs", F.transform(F.col(ring_col), lambda p: p["x"])
    ).withColumn("_ys", F.transform(F.col(ring_col), lambda p: p["y"]))
    schema = StructType(
        xy.schema.fields + [StructField("_keep", ArrayType(BooleanType()), True)]
    )

    def _mask(batches):
        for b in batches:
            xs = b.column("_xs").to_numpy(zero_copy_only=False)
            ys = b.column("_ys").to_numpy(zero_copy_only=False)
            keep = [
                None
                if x is None
                else _simplify.simplify_mask(
                    np.asarray(x, float), np.asarray(y, float), tol
                )
                for x, y in zip(xs, ys)
            ]
            yield b.append_column("_keep", pa.array(keep, pa.list_(pa.bool_())))

    with_mask = xy.mapInArrow(_mask, schema).drop("_xs", "_ys")
    zipped = F.arrays_zip(F.col(ring_col).alias("p"), F.col("_keep").alias("k"))
    rebuilt = F.transform(
        F.filter(zipped, lambda z: z["k"]), lambda z: z["p"]
    )
    return with_mask.withColumn(out_col, rebuilt).drop("_keep")


# --- J9: bbox overlap join (2D spatial join, no nested loop) -----------------------


def bbox_overlap_join(
    a: DataFrame,
    b: DataFrame,
    level: int = 7,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Box-box intersection join WITHOUT a BroadcastNestedLoopJoin: both
    sides explode to their level-``level`` grid cover cells, candidates
    come from an equi-join on the cell, and the exact overlap test
    (``west_a <= east_b AND west_b <= east_a AND ...``) removes cover
    false positives.

    The classic duplicate problem — an overlapping pair shares MANY
    cover cells — is solved without a shuffling ``distinct``: a pair is
    REPORTED only at its canonical cell, the top-left cell of the two
    covers' intersection, which each pair can compute from its own
    coordinates (``gx == max(ax0, bx0) AND gy == max(ay0, by0)``). One
    equi-join, no dedup pass, no row explosion beyond the covers.

    Inputs need columns (id, west, south, east, north), non-wrapped
    (dateline boxes: split first, as the cover path does). Output: one
    row per intersecting pair with the exact overlap rectangle and its
    planar area (single exactly-rounded IEEE ops — oracle-safe).

    Scale: cover fan-out is O(box perimeter / cell size) per side; the
    join shuffles on an int cell key so AQE skew-split applies to dense
    cells. Pick ``level`` so typical boxes cover a handful of cells.
    """
    def _cover(df: DataFrame, pre: str) -> DataFrame:
        x0, y1 = grid_xy_cols(F.col("west"), F.col("south"), level)
        x1, y0 = grid_xy_cols(F.col("east"), F.col("north"), level)
        return (
            df.select(
                *[F.col(c).alias(f"{pre}{c}") for c in df.columns],
                x0.alias(f"{pre}x0"),
                x1.alias(f"{pre}x1"),
                y0.alias(f"{pre}y0"),
                y1.alias(f"{pre}y1"),
            )
            .withColumn(
                f"{pre}gx",
                F.explode(F.sequence(F.col(f"{pre}x0"), F.col(f"{pre}x1"))),
            )
            .withColumn(
                f"{pre}gy",
                F.explode(F.sequence(F.col(f"{pre}y0"), F.col(f"{pre}y1"))),
            )
        )

    ca = _cover(a, "a_")
    cb = _cover(b, "b_")
    j = ca.join(
        cb,
        (F.col("a_gx") == F.col("b_gx")) & (F.col("a_gy") == F.col("b_gy")),
        "inner",
    )
    exact = (
        (F.col("a_west") <= F.col("b_east"))
        & (F.col("b_west") <= F.col("a_east"))
        & (F.col("a_south") <= F.col("b_north"))
        & (F.col("b_south") <= F.col("a_north"))
    )
    canonical = (
        (F.col("a_gx") == F.greatest(F.col("a_x0"), F.col("b_x0")))
        & (F.col("a_gy") == F.greatest(F.col("a_y0"), F.col("b_y0")))
    )
    ow = F.greatest(F.col("a_west"), F.col("b_west"))
    oe = F.least(F.col("a_east"), F.col("b_east"))
    os_ = F.greatest(F.col("a_south"), F.col("b_south"))
    on = F.least(F.col("a_north"), F.col("b_north"))
    return (
        j.filter(exact & canonical)
        .select(
            F.col(f"a_{a.columns[0]}").alias(a_id),
            F.col(f"b_{b.columns[0]}").alias(b_id),
            ow.alias("o_west"),
            os_.alias("o_south"),
            oe.alias("o_east"),
            on.alias("o_north"),
            ((oe - ow) * (on - os_)).alias("o_area"),
        )
    )


# --- G1c: Hilbert curve encode (NATIVE, S2-style locality) -------------------------


def hilbert_sql_ctes(
    lon_expr: str, lat_expr: str, level: int, key_cols: str
) -> "tuple[str, str]":
    """DuckDB longhand twin of ``with_hilbert`` as per-level CTEs
    (linear SQL growth where inline expressions would triple per level).
    Returns (cte_body, final_relation_name); the final relation exposes
    ``key_cols`` plus ``hd`` (the Hilbert id). Generated beside the
    native builder so the two cannot drift."""
    if not (1 <= level <= 8):
        raise ValueError("level in [1, 8]")
    n = 1 << level
    ctes = [
        f"""h0 AS (
            SELECT {key_cols},
                   GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({lon_expr} + 180.0)
                       / 360.0 * {float(n)}) AS BIGINT))) AS hx,
                   GREATEST(0, LEAST({n - 1}, CAST(FLOOR((90.0 - {lat_expr})
                       / 180.0 * {float(n)}) AS BIGINT))) AS hy,
                   CAST(0 AS BIGINT) AS hd
            FROM __HILBERT_SRC__
        )"""
    ]
    lvl = 0
    for i in range(level - 1, -1, -1):
        s = 1 << i
        prev, cur = f"h{lvl}", f"h{lvl + 1}"
        lvl += 1
        ctes.append(
            f"""{cur} AS (
            SELECT {key_cols},
                   CASE WHEN (hy & {s}) = 0
                        THEN CASE WHEN (hx & {s}) > 0
                                  THEN {s - 1} - hy ELSE hy END
                        ELSE hx END AS hx,
                   CASE WHEN (hy & {s}) = 0
                        THEN CASE WHEN (hx & {s}) > 0
                                  THEN {s - 1} - hx ELSE hx END
                        ELSE hy END AS hy,
                   hd + {s * s} * xor(3 * (CASE WHEN (hx & {s}) > 0
                                               THEN 1 ELSE 0 END),
                                      CASE WHEN (hy & {s}) > 0
                                           THEN 1 ELSE 0 END) AS hd
            FROM {prev}
        )"""
        )
    return ",\n            ".join(ctes), f"h{lvl}"


def with_hilbert(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 8,
    out: str = "hilbert_id",
) -> DataFrame:
    """Hilbert-curve cell id at ``level`` (side 2^level), fully native —
    the locality-optimal alternative to the Morton id (S2's choice):
    consecutive ids are grid-ADJACENT (unit-step path, pytest-verified),
    so a rectangle range-query covers FEWER contiguous id runs than the
    Morton id — measured 8.1 vs 14.3 runs per 8x8 window at level 6
    (the Moon et al. 1996 clustering metric a range scan cares about).
    Same grid quantization as ``cell_encode_col`` (x from lon, y from
    90-lat) and the same prefix hierarchy (``id >> 2`` IS the parent id
    at level-1). Hilbert-STYLE, not any specific library's byte layout.

    LINEAR plan growth: each rotation level is its own projection, and
    CollapseProject keeps the stages separate (the level's x/y aliases
    are non-cheap and each referenced ~3 times downstream, which is
    exactly the case the optimizer refuses to re-inline). A single
    Column expression would TRIPLE per level — at level 5 that was
    ~seconds of Column construction + Janino compile PER PLAN (the
    5k-row gate query spent 3 s on a 0.3 s job).
    """
    if not (1 <= level <= 16):
        raise ValueError("level in [1, 16]")
    x, y = grid_xy_cols(F.col(lon_col), F.col(lat_col), level)
    base = [F.col(c) for c in df.columns]
    staged = df.select(
        *base,
        x.alias("_hx"),
        y.alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for i in range(level - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        d = F.col("_hd") + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(
            ry
        ).cast("long")
        nx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
                F.col("_hy")
            ),
        ).otherwise(F.col("_hx"))
        ny = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
                F.col("_hx")
            ),
        ).otherwise(F.col("_hy"))
        staged = staged.select(
            *base, nx.alias("_hx"), ny.alias("_hy"), d.alias("_hd")
        )
    return staged.select(*base, F.col("_hd").alias(out))


def with_hilbert_decode(
    df: DataFrame,
    id_col: str = "hilbert_id",
    level: int = 8,
    x_out: str = "gx",
    y_out: str = "gy",
) -> DataFrame:
    """Inverse of ``with_hilbert``: Hilbert id -> grid (gx, gy) at the
    same level, staged one rotation level per projection (same linear-
    plan rationale — the naive single expression explodes per level).
    Roundtrip identity is pytest-pinned both directions.

    The decode runs LSB-up (quadrant size doubling), mirroring the
    classic d2xy; use it to translate a Hilbert id RANGE scan back to
    grid cells / bboxes (the Morton id has cell_parent_col + the tile
    decode for this; Hilbert gets the exact inverse instead since its
    bit layout is rotation-dependent).
    """
    if not (1 <= level <= 16):
        raise ValueError("level in [1, 16]")
    base = [F.col(c) for c in df.columns]
    staged = df.select(
        *base,
        F.col(id_col).cast("long").alias("_ht"),
        F.lit(0).cast("long").alias("_hx"),
        F.lit(0).cast("long").alias("_hy"),
    )
    s = 1
    while s < (1 << level):
        rx = F.shiftright(F.col("_ht"), 1).bitwiseAND(F.lit(1))
        ry = F.col("_ht").bitwiseXOR(rx).bitwiseAND(F.lit(1))
        mx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
                F.col("_hy")
            ),
        ).otherwise(F.col("_hx"))
        my = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
                F.col("_hx")
            ),
        ).otherwise(F.col("_hy"))
        staged = staged.select(
            *base,
            F.shiftright(F.col("_ht"), 2).alias("_ht"),
            (mx + F.lit(s) * rx).alias("_hx"),
            (my + F.lit(s) * ry).alias("_hy"),
        )
        s *= 2
    return staged.select(
        *base, F.col("_hx").alias(x_out), F.col("_hy").alias(y_out)
    )


# --- Hilbert range cover + range scan (round 7: the id's first consumer) ------


def _hilbert_ids_np(x: "np.ndarray", y: "np.ndarray", level: int) -> "np.ndarray":
    """Numpy twin of ``with_hilbert``'s rotation loop over grid coords —
    identical int64 arithmetic per level (two's-complement ``&`` on the
    occasionally-negative rotated intermediates matches the JVM long
    exactly), so driver-side planning (the range cover) and the
    executor-side encode can never disagree. Parity is pytest-pinned
    against with_hilbert on random grids."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    for i in range(level - 1, -1, -1):
        s = 1 << i
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += (s * s) * ((3 * rx) ^ ry)
        nx = np.where(ry == 0, np.where(rx == 1, s - 1 - y, y), x)
        ny = np.where(ry == 0, np.where(rx == 1, s - 1 - x, x), y)
        x, y = nx, ny
    return d


#: Driver-side planning guard: the cover enumerates the bbox's grid cells
#: (exactness demands visiting each — Hilbert runs are not hierarchical
#: in lon/lat space), so a cover at level L over a bbox spanning the
#: whole grid costs 4^L cells. 2^22 cells (~34 MB of int64) plans in
#: well under a second; a bigger ask means the level is too fine for a
#: range PRUNE (row-group granularity) — cover coarser, filter exact.
MAX_COVER_CELLS = 1 << 22


def _merge_ranges(ids: "np.ndarray", max_ranges: "int | None") -> list:
    """Sorted unique ids -> inclusive [lo, hi] runs; if more runs than
    ``max_ranges``, coalesce across the SMALLEST inter-run gaps first
    (deterministic stable tie-break) — trading bounded over-read for a
    bounded predicate count (plan-size convention: a 64-term OR-of-
    BETWEEN is cheap; an unbounded one is a Janino bill)."""
    if max_ranges is not None and max_ranges < 1:
        # k = max_ranges - 1 below would silently keep all-but-one gap
        # (argsort[:-1]) and return an arbitrary malformed cover
        raise ValueError(f"max_ranges must be >= 1, got {max_ranges}")
    breaks = np.nonzero(np.diff(ids) > 1)[0]
    starts = np.concatenate([ids[:1], ids[breaks + 1]])
    ends = np.concatenate([ids[breaks], ids[-1:]])
    if max_ranges is not None and len(starts) > max_ranges:
        gaps = starts[1:] - ends[:-1]  # > 1 by construction
        k = max_ranges - 1
        keep = np.sort(np.argsort(-gaps, kind="stable")[:k])
        starts = np.concatenate([starts[:1], starts[keep + 1]])
        ends = np.concatenate([ends[keep], ends[-1:]])
    return [(int(lo), int(hi)) for lo, hi in zip(starts, ends)]


def _cover_grid(
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    level: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """All grid cells any point of the bbox quantizes into (the exact
    with_hilbert / cell_encode quantization: x from lon, y from 90-lat,
    clamped), as flat meshgrid arrays."""
    if lon_max < lon_min or lat_max < lat_min:
        raise ValueError("bbox must satisfy lon_min<=lon_max, lat_min<=lat_max")
    x0, x1, y0, y1 = _cells.bbox_grid(lon_min, lat_min, lon_max, lat_max, level)
    n_cells = (x1 - x0 + 1) * (y1 - y0 + 1)
    if n_cells > MAX_COVER_CELLS:
        raise ValueError(
            f"range cover would enumerate {n_cells} cells at level {level} "
            f"(> {MAX_COVER_CELLS}); cover at a coarser level and keep the "
            "exact lon/lat residual filter"
        )
    xs, ys = np.meshgrid(
        np.arange(x0, x1 + 1, dtype=np.int64),
        np.arange(y0, y1 + 1, dtype=np.int64),
    )
    return xs.ravel(), ys.ravel()


def hilbert_range_cover(
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    level: int,
    max_ranges: "int | None" = None,
) -> "list[tuple[int, int]]":
    """Bbox -> inclusive [lo, hi] Hilbert-id ranges at ``level`` — the
    planning half of a Hilbert range SCAN: filter a Hilbert-sorted table
    by these ranges and parquet row-group pruning does the rest (the
    measured 8.1-vs-14.3 runs-per-window clustering win over Morton,
    realized as fewer/denser contiguous id runs; bench_hilbert_scan.py
    records the row-group counts).

    With ``max_ranges=None`` the cover is EXACT: an id is inside some
    range iff its cell's grid position lies in the bbox's quantized
    rectangle (the driver-gate oracle recomputes this equivalence in
    DuckDB with no Hilbert at all). A bounded ``max_ranges`` coalesces
    the smallest gaps — over-read, never under-read — so callers keep a
    residual exact filter (hilbert_range_scan does)."""
    xs, ys = _cover_grid(lon_min, lat_min, lon_max, lat_max, level)
    ids = np.unique(_hilbert_ids_np(xs, ys, level))
    return _merge_ranges(ids, max_ranges)


def morton_range_cover(
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    level: int,
    max_ranges: "int | None" = None,
) -> "list[tuple[int, int]]":
    """Morton twin of ``hilbert_range_cover`` (same grid, same merge) —
    exists so the scan-pruning comparison is apples-to-apples."""
    xs, ys = _cover_grid(lon_min, lat_min, lon_max, lat_max, level)
    ids = np.unique(_cells.interleave_xy(xs, ys))
    return _merge_ranges(ids, max_ranges)


def range_set_filter(col: Column, ranges: "list[tuple[int, int]]") -> Column:
    """OR-of-BETWEEN over id ranges — plain comparisons on the sort/
    min-max-stat column, so the parquet reader prunes row groups and the
    whole predicate stays inside codegen."""
    if not ranges:
        return F.lit(False)
    out = col.between(ranges[0][0], ranges[0][1])
    for lo, hi in ranges[1:]:
        out = out | col.between(lo, hi)
    return out


def hilbert_range_scan(
    df: DataFrame,
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    level: int,
    id_col: str = "hilbert_id",
    max_ranges: "int | None" = 64,
    lon_col: "str | None" = None,
    lat_col: "str | None" = None,
) -> DataFrame:
    """Filter a Hilbert-keyed frame to a bbox via the range cover. When
    the cover is coalesced (``max_ranges``), lon/lat columns MUST be
    named so the exact residual bbox filter can restore cell-exact
    semantics on the over-read (enforced — a coalesced cover without
    the residual would silently return out-of-bbox rows from the merged
    gaps); with ``max_ranges=None`` the ranges alone are already exact
    and no residual is needed.

    The range set meets the rows through a broadcast [lo, hi] table
    joined on ``id BETWEEN lo AND hi`` — a <= 64-row nested-loop probe
    per row. This is REQUIRED when ``id_col`` was just computed by
    ``with_hilbert``: a literal predicate gets pushed through every
    staged rotation projection, re-inlining the per-level expression
    that triples per level (measured: ONE equality inlined to a ~1 MB
    condition at level 6). The join keeps the id as a once-computed
    attribute, and scales to arbitrarily long covers without growing
    the plan. For a STORED id column (a Hilbert-sorted table), where
    scan pushdown is the point, filter with
    ``range_set_filter(col, hilbert_range_cover(...))`` instead: the
    literal comparisons reach the parquet reader and prune row groups
    via min/max stats (bench/bench_hilbert_scan.py measures it).

    The [lo, hi] table is a ``LocalRelation``
    (``sources.tables.local_table``) with exact size statistics. Built
    by the list form of ``createDataFrame`` it was a Python RDD that
    started a second worker pool; without it the traced ``query_mix``
    leaf takes 0.31 s instead of 0.60 s (4 cores).
    """
    if max_ranges is not None and (lon_col is None or lat_col is None):
        raise ValueError(
            "hilbert_range_scan: a coalesced cover (max_ranges set) "
            "over-reads by construction — name lon_col/lat_col for the "
            "exact residual filter, or pass max_ranges=None"
        )
    ranges = hilbert_range_cover(
        lon_min, lat_min, lon_max, lat_max, level, max_ranges
    )
    rng = local_table(df.sparkSession, ranges, "_rlo long, _rhi long")
    out = df.join(
        F.broadcast(rng),
        (F.col(id_col) >= F.col("_rlo")) & (F.col(id_col) <= F.col("_rhi")),
    ).drop("_rlo", "_rhi")
    if max_ranges is not None and lon_col is not None and lat_col is not None:
        x, y = grid_xy_cols(F.col(lon_col), F.col(lat_col), level)
        x0, x1, y0, y1 = _cells.bbox_grid(
            lon_min, lat_min, lon_max, lat_max, level
        )
        out = out.filter((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))
    return out
