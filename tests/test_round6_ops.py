"""Round-6 operator tests: geohash encode, tile->bbox decode, trajectory
stats, shoelace area/centroid, Gopher repetition stats.

Each operator also carries a DuckDB oracle row (__spark_entry__); these
tests pin the pieces the oracle can't see — published interop vectors,
plan shapes and sign/degenerate edges. (The SemDeDup tests live in
tests/test_similarity.py.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.geo import tiles as _tiles
from harvester_fgp_spark.operators.geo import (
    GEOHASH_BASE32,
    geohash_col,
    polygon_area_centroid,
    tile_bbox_cols,
    track_stats,
)
from harvester_fgp_spark.operators.textops import repetition_stats

from tests.conftest import plan_string


# --- reference geohash (classic interval-halving, for parity only) ----------


def _ref_geohash(lat: float, lon: float, precision: int) -> str:
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, bit_count, even = 0, 0, True
    out = []
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits = (bits << 1) | 1
                lon_lo = mid
            else:
                bits <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits = (bits << 1) | 1
                lat_lo = mid
            else:
                bits <<= 1
                lat_hi = mid
        even = not even
        bit_count += 1
        if bit_count == 5:
            out.append(GEOHASH_BASE32[bits])
            bits, bit_count = 0, 0
    return "".join(out)


def test_geohash_published_vectors(spark):
    # geohash.org / Wikipedia interop vectors
    df = spark.createDataFrame(
        [(42.6, -5.6), (57.64911, 10.40744)], "lat double, lon double"
    ).select(geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh"))
    got = [r.gh for r in df.toPandas().itertuples(index=False)]
    assert got[0][:5] == "ezs42"
    assert got[1] == "u4pruy"


def test_geohash_matches_reference_grid(spark):
    rng = np.random.default_rng(42)
    lats = np.concatenate(
        [rng.uniform(-90, 90, 200), [-90.0, 90.0, 0.0, 84.99, -84.99]]
    )
    lons = np.concatenate(
        [rng.uniform(-180, 180, 200), [-180.0, 179.999999, 0.0, -0.0, 45.0]]
    )
    pdf = pd.DataFrame({"lat": lats, "lon": lons})
    df = spark.createDataFrame(pdf).select(
        "lat", "lon", geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh")
    )
    for r in df.toPandas().itertuples(index=False):
        assert r.gh == _ref_geohash(r.lat, r.lon, 6), (r.lat, r.lon)


def test_geohash_prefix_is_coarser_cell(spark):
    df = spark.createDataFrame(
        [(48.8584, 2.2945)], "lat double, lon double"
    ).select(
        geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh6"),
        geohash_col(F.col("lon"), F.col("lat"), 4).alias("gh4"),
        geohash_col(F.col("lon"), F.col("lat"), 2).alias("gh2"),
    )
    r = df.toPandas().iloc[0]
    assert r.gh6[:4] == r.gh4 and r.gh6[:2] == r.gh2


def test_geohash_stays_native(spark):
    df = spark.range(10).select(
        geohash_col(
            (F.col("id") % 360).cast("double") - 180.0,
            (F.col("id") % 120).cast("double") - 60.0,
            6,
        ).alias("gh")
    )
    plan = plan_string(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --- tile -> bbox decode ----------------------------------------------------


def test_tile_bbox_roundtrip(spark):
    z = 8
    rng = np.random.default_rng(7)
    xs = rng.integers(0, 1 << z, 50)
    ys = rng.integers(1, (1 << z) - 1, 50)  # interior rows (mercator clamp)
    pdf = pd.DataFrame({"tile_x": xs.astype("int64"), "tile_y": ys.astype("int64")})
    w, s, e, n = tile_bbox_cols(F.col("tile_x"), F.col("tile_y"), z)
    out = (
        spark.createDataFrame(pdf)
        .select("tile_x", "tile_y", w.alias("w"), s.alias("s"), e.alias("e"), n.alias("n"))
        .toPandas()
    )
    assert (out.w < out.e).all() and (out.s < out.n).all()
    # center of the decoded bbox maps back to the same tile (numpy twin)
    cx = (out.w + out.e) / 2
    cy = (out.s + out.n) / 2
    tx, ty = _tiles.point_to_tile(cx.to_numpy(), cy.to_numpy(), z)
    assert (tx == out.tile_x.to_numpy()).all()
    assert (ty == out.tile_y.to_numpy()).all()
    # exact numpy parity on the lon edges (linear part)
    np.testing.assert_allclose(
        out.w.to_numpy(), xs / 256.0 * 360.0 - 180.0, rtol=0, atol=1e-9
    )


# --- track stats ------------------------------------------------------------


def _brute_track(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for uid, g in pdf.sort_values(["uid", "ts", "eid"]).groupby("uid"):
        lat = np.radians(g.lat.to_numpy())
        lon = np.radians(g.lon.to_numpy())
        if len(g) < 2:
            rows.append((uid, 0, None, None))
            continue
        dp = lat[1:] - lat[:-1]
        dl = lon[1:] - lon[:-1]
        a = (
            np.sin(dp / 2) ** 2
            + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dl / 2) ** 2
        )
        d = 2 * 6371.0088 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))
        units = np.round(np.round(d, 6) * 1e6).astype("int64")
        rows.append((uid, len(units), int(units.sum()), int(units.max())))
    return pd.DataFrame(
        rows, columns=["uid", "n_legs", "track_units", "max_leg_units"]
    )


def test_track_stats_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame(
        {
            "uid": rng.integers(0, 12, n).astype("int64"),
            "eid": np.arange(n, dtype="int64"),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**6, n), unit="s"),
            "lat": rng.uniform(-80, 80, n),
            "lon": rng.uniform(-179, 179, n),
        }
    )
    out = (
        track_stats(
            spark.createDataFrame(pdf),
            key_col="uid",
            ts_col="ts",
            lat_col="lat",
            lon_col="lon",
            order_tiebreak="eid",
        )
        .toPandas()
        .sort_values("uid", ignore_index=True)
    )
    exp = _brute_track(pdf).sort_values("uid", ignore_index=True)
    assert out.uid.tolist() == exp.uid.tolist()
    assert out.n_legs.astype("int64").tolist() == exp.n_legs.tolist()
    assert out.track_units.astype("int64").tolist() == exp.track_units.tolist()
    assert (
        out.max_leg_units.astype("int64").tolist() == exp.max_leg_units.tolist()
    )


def test_track_stats_single_shuffle(spark):
    df = spark.range(100).select(
        (F.col("id") % 5).alias("uid"),
        F.col("id").alias("eid"),
        F.col("id").cast("timestamp").alias("ts"),
        (F.col("id") % 70).cast("double").alias("lat"),
        (F.col("id") % 150).cast("double").alias("lon"),
    )
    out = track_stats(
        df, key_col="uid", ts_col="ts", lat_col="lat", lon_col="lon",
        order_tiebreak="eid",
    )
    plan = plan_string(out)
    # window partitioning is reused by the groupBy: exactly one Exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- polygon area + centroid ------------------------------------------------


def _shoelace(gx: np.ndarray, gy: np.ndarray):
    xn, yn = np.roll(gx, -1), np.roll(gy, -1)
    cr = gx * yn - xn * gy
    a2 = cr.sum()
    cxn = ((gx + xn) * cr).sum()
    cyn = ((gy + yn) * cr).sum()
    return a2, cxn, cyn


def test_polygon_area_centroid_matches_numpy(spark):
    rng = np.random.default_rng(5)
    rows = []
    for pid in range(8):
        k = int(rng.integers(3, 9))
        th = np.sort(rng.uniform(0, 2 * np.pi, k))  # star-shaped, CCW
        r = rng.integers(50, 500)
        gx = np.round(1000 + r * np.cos(th)).astype("int64")
        gy = np.round(2000 + r * np.sin(th)).astype("int64")
        for j in range(k):
            rows.append((pid, j, int(gx[j]), int(gy[j])))
    pdf = pd.DataFrame(rows, columns=["pid", "j", "gx", "gy"])
    out = (
        polygon_area_centroid(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("pid", ignore_index=True)
    )
    for pid, g in pdf.groupby("pid"):
        a2, cxn, cyn = _shoelace(g.gx.to_numpy(), g.gy.to_numpy())
        row = out[out.pid == pid].iloc[0]
        assert row.area2 == a2 and row.cx_num == cxn and row.cy_num == cyn
        assert a2 > 0  # CCW orientation -> positive signed area
        assert abs(row.cx - cxn / (3.0 * a2)) == 0.0
        # centroid lands inside the bbox of a star-shaped polygon
        assert g.gx.min() <= row.cx <= g.gx.max()
        assert g.gy.min() <= row.cy <= g.gy.max()


def test_polygon_area_sign_and_degenerate(spark):
    # CW unit square -> negative signed area; collinear "polygon" -> 0
    rows = [
        (0, 0, 0, 0), (0, 1, 0, 10), (0, 2, 10, 10), (0, 3, 10, 0),  # CW in y-up
        (1, 0, 0, 0), (1, 1, 5, 5), (1, 2, 10, 10),                  # degenerate
    ]
    pdf = pd.DataFrame(rows, columns=["pid", "j", "gx", "gy"])
    out = (
        polygon_area_centroid(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("pid", ignore_index=True)
    )
    assert out.loc[0].area2 == -200  # CW orientation, 2*A = -2*100
    assert out.loc[1].area2 == 0
    assert pd.isna(out.loc[1].cx) and pd.isna(out.loc[1].cy)


# --- repetition stats -------------------------------------------------------


def test_repetition_stats_handcomputed(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b a"),      # 5 words, 2 distinct; bigrams: ab x2, ba x2
            (1, "x y z"),          # all distinct
            (2, "solo"),           # 1 word -> no bigrams
            (3, "t t t t"),        # maximal repetition
        ],
        "doc_id long, text string",
    )
    out = (
        repetition_stats(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 0: dup words 3/5; 4 bigrams, top 2/4, distinct 2 -> dup 2/4
    assert out.loc[0].dup_word_micro == 600000
    assert out.loc[0].top_bigram_micro == 500000
    assert out.loc[0].dup_bigram_micro == 500000
    # doc 1: no repetition anywhere
    assert out.loc[1].dup_word_micro == 0
    assert out.loc[1].top_bigram_micro == 500000  # top 1 of 2 bigrams
    assert out.loc[1].dup_bigram_micro == 0
    # doc 2: single word -> zero denominators handled
    assert out.loc[2].n_words == 1
    assert out.loc[2].top_bigram_micro == 0
    # doc 3: 3 identical bigrams
    assert out.loc[3].dup_word_micro == 750000
    assert out.loc[3].top_bigram_micro == 1000000
    assert out.loc[3].dup_bigram_micro == 666667


def test_repetition_stats_shuffle_free(spark, sf_dir):
    """Round-8 shape: all three fractions are per-document, so the plan
    must carry NO Exchange at all — one scan, one Arrow kernel, one
    projection. (Rounds 3-7 exploded a row per bigram string through two
    corpus-wide groupBys.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_string(repetition_stats(docs))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan


# --- track stops (stay-point detection) -------------------------------------


def _brute_stops(pdf: pd.DataFrame, max_units: int, min_points: int):
    out = []
    for uid, g in pdf.sort_values(["uid", "ts", "eid"]).groupby("uid"):
        lat = g.lat.to_numpy()
        lon = g.lon.to_numpy()
        rl = np.radians(lat)
        rn = np.radians(lon)
        stop_seq = 0
        members: list[int] = []
        groups = []
        for i in range(len(g)):
            if i == 0:
                new = True
            else:
                dp = rl[i] - rl[i - 1]
                dl = rn[i] - rn[i - 1]
                a = (
                    np.sin(dp / 2) ** 2
                    + np.cos(rl[i - 1]) * np.cos(rl[i]) * np.sin(dl / 2) ** 2
                )
                d = 2 * 6371.0088 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))
                units = int(np.round(np.round(d, 6) * 1e6))
                new = units > max_units
            if new:
                if len(members) >= min_points:
                    groups.append((stop_seq, list(members)))
                stop_seq += 1
                members = [i]
            else:
                members.append(i)
        if len(members) >= min_points:
            groups.append((stop_seq, list(members)))
        for seq, idxs in groups:
            out.append((uid, seq, len(idxs)))
    return pd.DataFrame(out, columns=["uid", "stop_seq", "n_points"])


def test_track_stops_matches_bruteforce(spark):
    from harvester_fgp_spark.operators.geo import track_stops

    rng = np.random.default_rng(21)
    n = 600
    # clustered walks: small steps with occasional jumps -> real stops
    uid = rng.integers(0, 8, n).astype("int64")
    lat = np.cumsum(rng.normal(0, 0.02, n)) % 60
    lon = np.cumsum(rng.normal(0, 0.02, n)) % 120
    jump = rng.random(n) < 0.15
    lat = np.where(jump, rng.uniform(-60, 60, n), lat)
    lon = np.where(jump, rng.uniform(-120, 120, n), lon)
    pdf = pd.DataFrame(
        {
            "uid": uid,
            "eid": np.arange(n, dtype="int64"),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n), unit="m"),
            "lat": lat,
            "lon": lon,
        }
    )
    out = (
        track_stops(
            spark.createDataFrame(pdf),
            key_col="uid",
            ts_col="ts",
            lat_col="lat",
            lon_col="lon",
            max_leg_km=50.0,
            min_points=2,
            order_tiebreak="eid",
        )
        .toPandas()
        .sort_values(["uid", "stop_seq"], ignore_index=True)
    )
    exp = _brute_stops(pdf, max_units=50_000_000, min_points=2).sort_values(
        ["uid", "stop_seq"], ignore_index=True
    )
    assert out[["uid", "stop_seq", "n_points"]].astype("int64").values.tolist() == \
        exp.astype("int64").values.tolist()


def test_track_stops_single_shuffle(spark):
    from harvester_fgp_spark.operators.geo import track_stops

    df = spark.range(200).select(
        (F.col("id") % 5).alias("uid"),
        F.col("id").alias("eid"),
        F.col("id").cast("timestamp").alias("ts"),
        (F.col("id") % 70).cast("double").alias("lat"),
        (F.col("id") % 150).cast("double").alias("lon"),
    )
    out = track_stops(
        df, key_col="uid", ts_col="ts", lat_col="lat", lon_col="lon",
        order_tiebreak="eid",
    )
    plan = plan_string(out)
    # lag window, running-sum window and the (uid, stop) groupBy all
    # satisfy their distribution from ONE hash exchange on uid
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- geohash neighbors ------------------------------------------------------


def test_geohash_neighbors_matches_reference(spark):
    from harvester_fgp_spark.operators.geo import geohash_neighbors_col

    n = 1 << 15  # precision-6 half-bits
    dlon, dlat = 360.0 / n, 180.0 / n

    def _ref_neighbors(lat, lon):
        # quantize like the kernel, then re-encode offset CELL CENTERS
        lonq = min(n - 1, max(0, int(np.floor((lon + 180.0) / 360.0 * n))))
        latq = min(n - 1, max(0, int(np.floor((lat + 90.0) / 180.0 * n))))
        out = set()
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == dy == 0:
                    continue
                lq = (lonq + dx + n) % n
                tq = latq + dy
                if not (0 <= tq < n):
                    continue
                clon = (lq + 0.5) * dlon - 180.0
                clat = (tq + 0.5) * dlat - 90.0
                out.add(_ref_geohash(clat, clon, 6))
        return sorted(out)

    cases = [
        (45.0, -75.0),
        (0.0, 0.0),
        (89.999, 10.0),     # top lat row -> pole side drops to 5
        (-89.999, 10.0),    # bottom row
        (12.0, 179.999),    # antimeridian wrap
        (12.0, -180.0),
        (-33.3, 151.2),
    ]
    df = spark.createDataFrame(cases, "lat double, lon double").select(
        "lat",
        "lon",
        geohash_neighbors_col(F.col("lon"), F.col("lat"), 6).alias("nb"),
    )
    for r in df.toPandas().itertuples(index=False):
        assert list(r.nb) == _ref_neighbors(r.lat, r.lon), (r.lat, r.lon)
    # polar rows have 5 neighbors, interior rows 8
    got = {(r.lat, r.lon): len(r.nb) for r in df.toPandas().itertuples(index=False)}
    assert got[(89.999, 10.0)] == 5 and got[(45.0, -75.0)] == 8


def test_geohash_neighbors_adjacent_cells_share_border(spark):
    from harvester_fgp_spark.operators.geo import (
        geohash_col,
        geohash_neighbors_col,
    )

    # a point's east neighbor cell contains the point shifted one cell east
    n = 1 << 15
    dlon = 360.0 / n
    df = spark.createDataFrame(
        [(45.0, -75.0)], "lat double, lon double"
    ).select(
        geohash_neighbors_col(F.col("lon"), F.col("lat"), 6).alias("nb"),
        geohash_col(F.col("lon") + dlon, F.col("lat"), 6).alias("east"),
        geohash_col(F.col("lon"), F.col("lat"), 6).alias("self"),
    )
    r = df.toPandas().iloc[0]
    assert r.east in list(r.nb) and r.self not in list(r.nb)


# --- bbox overlap join ------------------------------------------------------


def test_bbox_overlap_join_matches_bruteforce(spark):
    from harvester_fgp_spark.operators.geo import bbox_overlap_join

    rng = np.random.default_rng(17)
    def _mk(n, seed_shift):
        w = rng.uniform(-170, 150, n)
        s = rng.uniform(-80, 70, n)
        return pd.DataFrame(
            {
                "id": np.arange(n, dtype="int64") + seed_shift,
                "west": w,
                "south": s,
                "east": w + rng.uniform(0.1, 20, n),
                "north": s + rng.uniform(0.1, 15, n),
            }
        )

    pa, pb = _mk(120, 0), _mk(150, 1000)
    out = (
        bbox_overlap_join(
            spark.createDataFrame(pa), spark.createDataFrame(pb), level=6
        )
        .select("a_id", "b_id")
        .toPandas()
    )
    got = set(map(tuple, out.values.tolist()))
    exp = set()
    for ra in pa.itertuples(index=False):
        for rb in pb.itertuples(index=False):
            if (
                ra.west <= rb.east and rb.west <= ra.east
                and ra.south <= rb.north and rb.south <= ra.north
            ):
                exp.add((ra.id, rb.id))
    assert got == exp
    # exactly once per pair (canonical-cell dedup, no distinct)
    assert len(out) == len(got)


def test_bbox_overlap_join_no_nested_loop(spark):
    from harvester_fgp_spark.operators.geo import bbox_overlap_join

    a = spark.range(50).select(
        F.col("id"),
        (F.col("id") % 30).cast("double").alias("west"),
        (F.col("id") % 20).cast("double").alias("south"),
        ((F.col("id") % 30) + 2.0).alias("east"),
        ((F.col("id") % 20) + 2.0).alias("north"),
    )
    plan = plan_string(bbox_overlap_join(a, a, level=6))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- driver-side polygon dim-table simplification ---------------------------


def test_simplify_polygons_pdf_preserves_structure(spark):
    from harvester_fgp_spark.geo.simplify import simplify_polygons_pdf
    from harvester_fgp_spark.operators.geo import build_polygon_index
    from harvester_fgp_spark.synth import generate_polygons

    ppdf = generate_polygons(40, seed=42, holes=True)
    simp = simplify_polygons_pdf(ppdf, 0.05)
    nb = sum(len(r) for r in ppdf["ring"])
    na = sum(len(r) for r in simp["ring"])
    assert na <= nb
    for orig, s in zip(ppdf["ring"], simp["ring"]):
        assert len(s) >= 4
        assert s[0] == orig[0] and s[-1] == orig[-1]  # closure kept
    # multi-ring column simplified too, and the index still builds
    assert all(
        all(len(r) >= 4 for r in rings) for rings in simp["rings"]
    )
    idx = build_polygon_index(simp)
    assert len(idx.polygon_ids) == 40


def test_pipeline_cli_accepts_simplify_tol():
    from jobs.run_pipeline import parse_args

    a = parse_args(
        ["--pages", "x", "--out", "y", "--checkpoint", "z",
         "--run-id", "r", "--simplify-tol", "0.1"]
    )
    assert a.simplify_tol == 0.1


def test_bbox_overlap_join_property_random_levels(spark):
    """Canonical-cell completeness/uniqueness holds at ANY cover level
    (the level only changes candidate counts, never the result)."""
    from harvester_fgp_spark.operators.geo import bbox_overlap_join

    rng = np.random.default_rng(31)
    n = 60
    w = rng.uniform(-170, 150, n)
    s = rng.uniform(-80, 70, n)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype="int64"),
            "west": w,
            "south": s,
            "east": w + rng.uniform(0.01, 40, n),
            "north": s + rng.uniform(0.01, 25, n),
        }
    )
    df = spark.createDataFrame(pdf)
    exp = None
    for level in (3, 5, 8):
        out = (
            bbox_overlap_join(df, df, level=level)
            .select("a_id", "b_id")
            .toPandas()
        )
        pairs = sorted(map(tuple, out.values.tolist()))
        assert len(pairs) == len(set(pairs)), f"dup pair at level {level}"
        if exp is None:
            exp = pairs
        else:
            assert pairs == exp, f"level {level} changed the result"
    # self-join sanity: every box overlaps itself
    assert all((i, i) in set(exp) for i in range(n))


def test_radius_search_is_equi_join(spark):
    """The geohash expansion must reach the join as an equi-join on the
    cell string — a nested-loop fallback would mean the candidate
    generator silently degraded to all-pairs."""
    import __spark_entry__ as E

    df = E.queries()["geo_radius_search"](spark, "/root/testdata/sf0.001")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hilbert_decode_roundtrips(spark):
    from harvester_fgp_spark.operators.geo import (
        with_hilbert,
        with_hilbert_decode,
    )

    level, n = 5, 32
    # every cell once: encode -> decode must reproduce (gx, gy)
    cells = spark.createDataFrame(
        [(gx, gy) for gx in range(n) for gy in range(n)], "gx0 int, gy0 int"
    ).select(
        "gx0",
        "gy0",
        ((F.col("gx0") + 0.5) / n * 360.0 - 180.0).alias("lon"),
        (90.0 - (F.col("gy0") + 0.5) / n * 180.0).alias("lat"),
    )
    enc = with_hilbert(cells, "lon", "lat", level=level, out="hid")
    dec = with_hilbert_decode(enc, "hid", level=level).toPandas()
    assert (dec.gx == dec.gx0).all() and (dec.gy == dec.gy0).all()
    # d -> xy -> d over the full id space
    ids = spark.range(n * n).select(F.col("id").alias("hid"))
    xy = with_hilbert_decode(ids, "hid", level=level)
    back = with_hilbert(
        xy.select(
            "hid",
            ((F.col("gx") + 0.5) / n * 360.0 - 180.0).alias("lon"),
            (90.0 - (F.col("gy") + 0.5) / n * 180.0).alias("lat"),
        ),
        "lon",
        "lat",
        level=level,
        out="hid2",
    ).toPandas()
    assert (back.hid == back.hid2).all()
