"""S2-style 64-bit hierarchical cell ids (SURVEY.md §2.4 G1-G3, §7.4-1).

No h3/s2 wheels exist in this sandbox, so the engine defines its own
hierarchical id with the one property the join rewrites need:
**prefix containment** — the id of a cell's parent at a coarser level is a
bit-prefix (right-shift) of the child's id. That turns spatial range joins
into equi-joins on a computed prefix key that Catalyst can plan natively
(SURVEY §2.5 J3).

Layout ("S2-style, not S2-compatible"):

    cell_id(level k) = Morton/Z-order interleave of the k-bit quantized
    (x, y) grid position over the equirectangular plane
    lon ∈ [-180, 180], lat ∈ [-90, 90]:

        x = floor((lon + 180) / 360 * 2^k)   clamped to [0, 2^k - 1]
        y = floor(( 90 - lat) / 180 * 2^k)   clamped to [0, 2^k - 1]
        cell = interleave(x, y)              # 2k bits, x in even positions

    parent at level j < k:  cell >> 2*(k - j)

The level is carried out-of-band (a column/constant), keeping the id a
plain LongType Catalyst can shift/mask natively — G3 needs **no UDF**.
Everything below is whole-array numpy; no Python-level per-row loops over
points (the only Python loop is over *bboxes* in the batched cover, where
each iteration does array work).

Join contract for covers: polygon/bbox covers are emitted at a fixed
``COVER_LEVEL`` (coarse); the point side joins via
``parent(point_cell_at_DEFAULT_LEVEL, COVER_LEVEL)``. At COVER_LEVEL=7 the
whole-world worst case is 4^7 = 16384 cells per bbox, and realistic
collection polygons (≤ ~10°) cover a handful — bounded explode fan-out by
construction, which is what survives a 100× scale-up.

Reference parity note: harvester-FGP has no spatial index at all (it emits
raw EX_GeographicBoundingBox bounds, SURVEY §1.1); cells are a new-engine
capability mandated by BASELINE.json:14.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 26  # 2*26 = 52 bits < 63, stays positive in a signed int64
DEFAULT_LEVEL = 12  # point-encode level (G1)
COVER_LEVEL = 7  # bbox/polygon cover level (G2) and coarse-join key level


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 so bit i moves to bit 2i."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x00000000FFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bits back into the low 32."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_xy(
    lon: np.ndarray, lat: np.ndarray, level: int
) -> tuple[np.ndarray, np.ndarray]:
    """Quantize lon/lat to the level-k integer grid (clamped)."""
    n = np.int64(1) << np.int64(level)
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(
        np.int64
    )
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * n).astype(
        np.int64
    )
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def bbox_grid(
    west: float, south: float, east: float, north: float, level: int
) -> tuple[int, int, int, int]:
    """Grid rectangle ``(x0, x1, y0, y1)`` a bbox quantizes into at
    ``level``: the SW corner gives (x0, y1) and the NE corner (x1, y0),
    since y grows southward."""
    x, y = lonlat_to_xy(np.array([west, east]), np.array([south, north]), level)
    return int(x[0]), int(x[1]), int(y[1]), int(y[0])


def interleave_xy(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton interleave of grid positions -> int64 cell ids."""
    return (_part1by1(x) | (_part1by1(y) << np.uint64(1))).astype(np.int64)


def encode(lon: np.ndarray, lat: np.ndarray, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """G1: lon/lat arrays -> int64 cell ids at `level` (vectorized)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    x, y = lonlat_to_xy(lon, lat, level)
    return interleave_xy(x, y)


def decode_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of the interleave: cell ids -> (x, y) grid positions."""
    c = np.asarray(cell).astype(np.uint64)
    return (
        _compact1by1(c).astype(np.int64),
        _compact1by1(c >> np.uint64(1)).astype(np.int64),
    )


def parent(cell: np.ndarray, level: int, parent_level: int) -> np.ndarray:
    """G3: truncate ids from `level` to coarser `parent_level` (pure shift).

    The Spark-native equivalent (used in the actual plan so G3 never leaves
    the JVM) is ``F.shiftrightunsigned(col, 2 * (level - parent_level))``.
    """
    if parent_level > level:
        raise ValueError("parent_level must be <= level")
    return np.asarray(cell, dtype=np.int64) >> np.int64(2 * (level - parent_level))


def cell_bounds(cell: np.ndarray, level: int) -> tuple[np.ndarray, ...]:
    """(west, south, east, north) of each cell at `level`."""
    x, y = decode_xy(cell)
    n = float(1 << level)
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = 90.0 - y / n * 180.0
    south = 90.0 - (y + 1) / n * 180.0
    return west, south, east, north


def bbox_center_lon(west: np.ndarray, east: np.ndarray) -> np.ndarray:
    """Antimeridian-aware bbox center longitude (vectorized).

    west <= east: plain midpoint. west > east (ISO 19115 dateline box):
    midpoint of the wrapped interval, normalized to (-180, 180]. E.g.
    west=177, east=-178 -> 179.5; west=-179, east=... symmetric.
    """
    west = np.asarray(west, dtype=np.float64)
    east = np.asarray(east, dtype=np.float64)
    raw = (west + east) / 2.0
    m = raw + 180.0
    m = np.where(m > 180.0, m - 360.0, m)
    return np.where(west <= east, raw, m)


def cover_bbox(
    west: float, south: float, east: float, north: float, level: int = COVER_LEVEL
) -> np.ndarray:
    """G2: all level-`level` cells intersecting one bbox (sorted int64).

    Exact cover (no over/under-approximation beyond grid quantization).
    west > east means the bbox crosses the antimeridian (ISO 19115):
    the cover is the union of the [west, 180] and [-180, east] splits
    (deduped — at coarse levels both splits can quantize into the same
    column). south > north is degenerate -> empty.
    """
    if south > north:
        return np.empty(0, dtype=np.int64)
    x0, x1, y0, y1 = bbox_grid(west, south, east, north, level)
    if west > east:
        xs = np.unique(
            np.concatenate(
                [
                    np.arange(x0, 1 << level, dtype=np.int64),
                    np.arange(0, x1 + 1, dtype=np.int64),
                ]
            )
        )
    else:
        xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    cells = interleave_xy(gx.ravel(), gy.ravel())
    cells.sort()
    return cells


def _clip_ring_x(
    xs: np.ndarray, ys: np.ndarray, bound: float, keep_le: bool
) -> "tuple[np.ndarray, np.ndarray] | None":
    """Sutherland–Hodgman clip of a CLOSED ring against the half-plane
    x <= bound (keep_le) or x >= bound. Returns a closed ring or None
    when nothing (with area) survives."""
    ox: list[float] = []
    oy: list[float] = []
    for i in range(len(xs) - 1):
        x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        in1 = (x1 <= bound) if keep_le else (x1 >= bound)
        in2 = (x2 <= bound) if keep_le else (x2 >= bound)
        if in1:
            ox.append(float(x1))
            oy.append(float(y1))
        if in1 != in2:
            t = (bound - x1) / (x2 - x1)
            ox.append(float(bound))
            oy.append(float(y1 + t * (y2 - y1)))
    if len(ox) < 3:
        return None
    ox.append(ox[0])
    oy.append(oy[0])
    return np.array(ox, dtype=np.float64), np.array(oy, dtype=np.float64)


def split_ring_at_dateline(
    xs: np.ndarray, ys: np.ndarray
) -> "list[tuple[np.ndarray, np.ndarray]]":
    """Split a closed lon/lat ring that crosses the antimeridian into
    parts that each live inside [-180, 180] (round 4, VERDICT r3
    missing-#4): planar even-odd ray casting / rasterization is then
    correct per part, and XOR across disjoint parts is their union —
    the same multipolygon treatment the PIP index already applies to
    holes, reusing the bbox-split idea of ``cover_bbox``.

    Crossing detection: any consecutive-lon jump > 180 degrees (the
    standard convention — vertices are assumed denser than a hemisphere,
    true of every real-world boundary). The ring is UNWRAPPED to a
    continuous plane (each jump adds/subtracts 360), placed so it
    straddles +180, then clipped against x <= 180 and x >= 180, with the
    east part shifted by -360 back into range. Rings that never cross
    return unchanged (identity — zero cost for the common case).
    Pole-enclosing rings (odd total winding in lon) are out of scope, as
    in the rest of the engine.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    dx = np.diff(xs)
    if not np.any(np.abs(dx) > 180.0):
        return [(xs, ys)]
    corr = np.where(dx > 180.0, -360.0, np.where(dx < -180.0, 360.0, 0.0))
    ux = xs + np.concatenate([[0.0], np.cumsum(corr)])
    if ux.min() < -180.0:
        ux = ux + 360.0
    parts: list[tuple[np.ndarray, np.ndarray]] = []
    west = _clip_ring_x(ux, ys, 180.0, keep_le=True)
    if west is not None:
        parts.append(west)
    east = _clip_ring_x(ux, ys, 180.0, keep_le=False)
    if east is not None:
        parts.append((east[0] - 360.0, east[1]))
    return parts


def split_rings_dateline(rings: list) -> list:
    """Flat-map ``split_ring_at_dateline`` over a polygon's ring list
    ((rx, ry) tuples): holes and dateline parts compose — each ring
    splits independently and even-odd XOR over the flat result is
    unchanged on the non-crossing side, union-of-parts on the other."""
    return [part for rx, ry in rings for part in split_ring_at_dateline(rx, ry)]


def morton_interleave_sql(x_expr: str, y_expr: str, level: int) -> str:
    """ANSI-SQL longhand for interleave_xy — the DuckDB oracle for G1.

    Emits ``sum_b( ((x>>b)&1) << 2b | ((y>>b)&1) << (2b+1) )`` as explicit
    terms so the oracle needs no UDF on the DuckDB side (SURVEY §5.2-2).
    """
    terms = []
    for b in range(level):
        terms.append(f"((({x_expr} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y_expr} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"
