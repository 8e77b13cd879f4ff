"""Hilbert encode, range cover and range scan.

The encode (``with_hilbert``) must match a plain-Python reference walk,
trace a unit-step path and keep the ``id >> 2`` prefix hierarchy. The
cover is driver-side planning: it must agree bit-for-bit with the
executor-side encode, be EXACT with max_ranges=None, over-read (never
under-read) when coalesced, and — as a ``range_set_filter`` over a
stored Hilbert-sorted column — reach the parquet reader as pushed
filters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.operators import geo as G

LEVELS = [3, 5, 6, 8]


def _rect_ids(lon_min, lat_min, lon_max, lat_max, level):
    xs, ys = G._cover_grid(lon_min, lat_min, lon_max, lat_max, level)
    return set(G._hilbert_ids_np(xs, ys, level).tolist())


def _range_ids(ranges):
    out = set()
    for lo, hi in ranges:
        out |= set(range(lo, hi + 1))
    return out


BOXES = [
    (-30.0, 10.0, 40.0, 55.0),
    (-180.0, -90.0, -100.0, -30.0),
    (170.0, 60.0, 180.0, 90.0),  # corner
    (-1.0, -1.0, 1.0, 1.0),  # straddles the grid center
    (12.3, -47.9, 12.4, -47.8),  # sub-cell: single-cell cover
]


@pytest.mark.parametrize("level", LEVELS)
def test_hilbert_numpy_twin_matches_spark_encode(spark, level):
    """_hilbert_ids_np (the planner) == with_hilbert (the executor) on
    random lon/lat — including points whose rotated intermediates go
    negative (the two's-complement & must agree with the JVM long)."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    pdf = pd.DataFrame({"i": np.arange(300), "lon": lon, "lat": lat})
    got = (
        G.with_hilbert(spark.createDataFrame(pdf), "lon", "lat", level, "hid")
        .orderBy("i")
        .toPandas()["hid"]
        .to_numpy()
    )
    from harvester_fgp_spark.geo import cells as _cells

    x, y = _cells.lonlat_to_xy(lon, lat, level)
    exp = G._hilbert_ids_np(x, y, level)
    assert (got == exp).all()


@pytest.mark.parametrize("box", BOXES)
@pytest.mark.parametrize("level", [5, 6])
def test_cover_exact_and_coalesced_superset(box, level):
    exact = G.hilbert_range_cover(*box, level=level)
    ids = _rect_ids(*box, level)
    assert _range_ids(exact) == ids
    # ranges are disjoint, sorted, non-adjacent (maximal runs)
    for (lo1, hi1), (lo2, hi2) in zip(exact, exact[1:]):
        assert hi1 + 1 < lo2
    co = G.hilbert_range_cover(*box, level=level, max_ranges=3)
    assert len(co) <= 3
    assert ids <= _range_ids(co)  # over-read only, never under-read


def test_hilbert_fewer_runs_than_morton():
    """The clustering win the cover exists to exploit: over the test
    boxes the Hilbert cover needs fewer contiguous runs than the Morton
    cover of the same cells (8.1-vs-14.3 per the Moon et al. metric)."""
    h = sum(len(G.hilbert_range_cover(*b, level=6)) for b in BOXES)
    m = sum(len(G.morton_range_cover(*b, level=6)) for b in BOXES)
    assert h < m, (h, m)


def test_range_scan_join_vs_filter_vs_residual(spark, tmp_path):
    """All three scan shapes select the same rows: exact-cover join,
    coalesced join + residual bbox filter, and the stored-column
    ``range_set_filter`` over the cover — whose predicate must reach the
    parquet scan (PushedFilters) on a Hilbert-keyed table."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(4000, dtype="int64"),
            "lon": rng.uniform(-180, 180, 4000),
            "lat": rng.uniform(-90, 90, 4000),
        }
    )
    df = spark.createDataFrame(pdf)
    box = (-30.0, 10.0, 40.0, 55.0)
    h = G.with_hilbert(df, "lon", "lat", 6, "hid")
    exact = set(
        r.pid
        for r in G.hilbert_range_scan(
            h, *box, level=6, id_col="hid", max_ranges=None
        ).collect()
    )
    # ground truth: quantized grid rectangle
    from harvester_fgp_spark.geo import cells as _cells

    x, y = _cells.lonlat_to_xy(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 6)
    gx0, gy1 = _cells.lonlat_to_xy(np.array([box[0]]), np.array([box[1]]), 6)
    gx1, gy0 = _cells.lonlat_to_xy(np.array([box[2]]), np.array([box[3]]), 6)
    truth = set(
        pdf.pid[
            (x >= gx0[0]) & (x <= gx1[0]) & (y >= gy0[0]) & (y <= gy1[0])
        ].tolist()
    )
    assert exact == truth and len(truth) > 0
    # coalesced + residual == exact
    co = set(
        r.pid
        for r in G.hilbert_range_scan(
            h, *box, level=6, id_col="hid", max_ranges=4,
            lon_col="lon", lat_col="lat",
        ).collect()
    )
    assert co == truth
    # stored-column path: Hilbert-sorted parquet + literal filter
    path = str(tmp_path / "hsorted")
    h.orderBy("hid").write.parquet(path)
    stored = spark.read.parquet(path)
    filt = stored.filter(
        G.range_set_filter(F.col("hid"), G.hilbert_range_cover(*box, level=6))
    )
    assert set(r.pid for r in filt.collect()) == truth
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # at least one range bound reached the scan as a pushed comparison
    assert "hid" in plan.split("PushedFilters: [", 1)[1][:500]


def test_range_cover_refuses_oversize():
    with pytest.raises(ValueError):
        G.hilbert_range_cover(-180, -90, 180, 90, level=12)  # 16.7M cells


# --- Hilbert encode ---------------------------------------------------------


def _ref_hilbert(level, x, y):
    d = 0
    s = 1 << (level - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _grid_centers(spark, level):
    """One point per grid cell (cell centers) with its (gx, gy)."""
    n = 1 << level
    rows = [
        (
            (gx + 0.5) / n * 360.0 - 180.0,
            90.0 - (gy + 0.5) / n * 180.0,
            gx,
            gy,
        )
        for gx in range(n)
        for gy in range(n)
    ]
    return spark.createDataFrame(rows, "lon double, lat double, gx int, gy int")


def test_hilbert_matches_reference_and_is_unit_step(spark):
    level, n = 4, 16
    pdf = (
        G.with_hilbert(_grid_centers(spark, level), "lon", "lat", level, "hd")
        .select("gx", "gy", "hd")
        .toPandas()
    )
    # reference parity on every cell
    for r in pdf.itertuples(index=False):
        assert r.hd == _ref_hilbert(level, r.gx, r.gy), (r.gx, r.gy)
    # bijective + unit-step path (THE Hilbert property)
    path = pdf.sort_values("hd")[["gx", "gy"]].to_numpy()
    assert len(set(pdf.hd)) == n * n
    steps = np.abs(np.diff(path, axis=0)).sum(axis=1)
    assert (steps == 1).all()


def test_hilbert_prefix_hierarchy_and_locality(spark):
    rng = np.random.default_rng(41)
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-179, 179, 300),
            "lat": rng.uniform(-85, 85, 300),
        }
    )
    df = G.with_hilbert(spark.createDataFrame(pdf), "lon", "lat", 6, "h6")
    out = G.with_hilbert(df, "lon", "lat", 5, "h5").toPandas()
    # id >> 2 IS the parent id — the same shift J3 uses on Morton cells
    assert (out.h6 // 4 == out.h5).all()

    # locality: a rectangle range-query covers FEWER contiguous id runs
    # under Hilbert than Morton (Moon et al. 1996 — the actual metric a
    # range scan cares about; mean neighbor |Δid| favors Morton and is
    # the wrong measure). Measured here: ~8.1 vs ~14.3 runs per 8x8
    # window at level 6.
    level, n = 6, 64
    enc = (
        G.with_hilbert(_grid_centers(spark, level), "lon", "lat", level, "h")
        .select(
            "gx",
            "gy",
            "h",
            G.cell_encode_col(F.col("lon"), F.col("lat"), level).alias("m"),
        )
        .toPandas()
    )
    hmap = {(r.gx, r.gy): r.h for r in enc.itertuples(index=False)}
    mmap = {(r.gx, r.gy): r.m for r in enc.itertuples(index=False)}

    def runs(ids):
        ids = np.sort(np.array(ids))
        return 1 + int((np.diff(ids) > 1).sum())

    rng2 = np.random.default_rng(1)
    h_runs, m_runs = [], []
    for _ in range(100):
        x0 = int(rng2.integers(0, n - 8))
        y0 = int(rng2.integers(0, n - 8))
        cells = [(x0 + i, y0 + j) for i in range(8) for j in range(8)]
        h_runs.append(runs([hmap[c] for c in cells]))
        m_runs.append(runs([mmap[c] for c in cells]))
    assert np.mean(h_runs) < np.mean(m_runs)


def test_with_hilbert_matches_reference_and_goes_deeper(spark):
    """The staged encode equals the reference walk at level 6 and keeps
    going where a single Column expression would have tripled per level
    (level 12 here)."""
    from harvester_fgp_spark.geo import cells as _cells

    rng = np.random.default_rng(77)
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-180, 180, 400),
            "lat": rng.uniform(-90, 90, 400),
        }
    )
    df = spark.createDataFrame(pdf)
    got = G.with_hilbert(df, "lon", "lat", level=6, out="h").toPandas()
    x, y = _cells.lonlat_to_xy(got.lon.to_numpy(), got.lat.to_numpy(), 6)
    exp = [_ref_hilbert(6, int(a), int(b)) for a, b in zip(x, y)]
    assert got.h.tolist() == exp
    deep = G.with_hilbert(df, "lon", "lat", level=12, out="h12").toPandas()
    assert deep.h12.between(0, (1 << 24) - 1).all()
    assert deep.h12.nunique() > 390  # 4096^2 cells: 400 points spread out
