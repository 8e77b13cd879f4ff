"""Spark integration tests for the operator layer (SURVEY.md §5.2).

One shared local[4] session; each test drives one §2 operator through the
real DataFrame path, checking against the numpy kernels or brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.geo import cells, pip, tiles
from harvester_fgp_spark.operators import extract as E
from harvester_fgp_spark.operators import geo as G
from harvester_fgp_spark.operators.joins import dedup_latest, salted_join
from harvester_fgp_spark.synth import generate_pages, generate_polygons, pages_df


def test_native_cell_encode_matches_numpy(spark):
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 5000), "lat": rng.uniform(-90, 90, 5000)}
    )
    df = spark.createDataFrame(pdf)
    got = (
        df.select(G.cell_encode_col(F.col("lon"), F.col("lat"), 12).alias("c"))
        .toPandas()["c"]
        .to_numpy()
    )
    exp = cells.encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 12)
    np.testing.assert_array_equal(got, exp)


def test_native_cell_parent_matches_numpy(spark):
    rng = np.random.default_rng(2)
    c = cells.encode(rng.uniform(-180, 180, 1000), rng.uniform(-90, 90, 1000), 12)
    df = spark.createDataFrame(pd.DataFrame({"c": c}))
    got = (
        df.select(G.cell_parent_col(F.col("c"), 12, 7).alias("p"))
        .toPandas()["p"]
        .to_numpy()
    )
    np.testing.assert_array_equal(got, cells.parent(c, 12, 7))


def test_native_tile_matches_numpy(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 5000), "lat": rng.uniform(-89, 89, 5000)}
    )
    df = spark.createDataFrame(pdf)
    tx, ty = G.tile_cols(F.col("lon"), F.col("lat"), 8)
    got = df.select(tx.alias("x"), ty.alias("y")).toPandas()
    ex, ey = tiles.point_to_tile(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 8)
    np.testing.assert_array_equal(got["x"].to_numpy(), ex)
    np.testing.assert_array_equal(got["y"].to_numpy(), ey)


def test_native_haversine_matches_numpy(spark):
    from harvester_fgp_spark.geo.distance import haversine_km

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame(
        {
            "lat1": rng.uniform(-89, 89, 1000),
            "lon1": rng.uniform(-180, 180, 1000),
            "lat2": rng.uniform(-89, 89, 1000),
            "lon2": rng.uniform(-180, 180, 1000),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            G.haversine_km_col(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
            ).alias("d")
        )
        .toPandas()["d"]
        .to_numpy()
    )
    exp = haversine_km(
        pdf["lat1"].to_numpy(), pdf["lon1"].to_numpy(),
        pdf["lat2"].to_numpy(), pdf["lon2"].to_numpy(),
    )
    np.testing.assert_allclose(got, exp, rtol=1e-9)


def test_extract_byte_identity_through_spark(spark):
    """BASELINE.json:15 — byte-identical extracted text per url (E1),
    through the production path: with ``text`` nulled, every page goes
    through the fused stage's html extraction, and every record carries
    ``extract_text(html)`` byte for byte."""
    from pyspark.sql.types import StringType

    from harvester_fgp_spark.functions.text import extract_text
    from harvester_fgp_spark.plans.pipeline import mine_records

    pages = pages_df(spark, 500, seed=42).withColumn(
        "text", F.lit(None).cast(StringType())
    )
    recs = (
        mine_records(spark, pages, generate_polygons(30, seed=42), keep_text=True)
        .select("url", "extracted_text")
        .toPandas()
    )
    pdf = generate_pages(500, seed=42)
    html = dict(zip(pdf["url"], pdf["html"]))
    assert recs["url"].nunique() > 100
    for url, et in zip(recs["url"], recs["extracted_text"]):
        assert et.encode("utf-8") == extract_text(html[url]).encode("utf-8")


def test_mine_explode_counts(spark):
    pages = pages_df(spark, 1000, seed=42)
    exploded = E.with_payloads(pages)
    from harvester_fgp_spark.functions.text import mine_payloads

    pdf = generate_pages(1000, seed=42)
    exp = sum(len(mine_payloads(t)) for t in pdf["text"])
    assert exploded.count() == exp
    kinds = {r.kind for r in exploded.select("kind").distinct().collect()}
    assert kinds == {"point", "bbox"}


def test_pip_join_matches_brute_force(spark):
    ppdf = generate_polygons(60, seed=42)
    rng = np.random.default_rng(8)
    pts = pd.DataFrame(
        {
            "pid": np.arange(3000),
            "lon": rng.uniform(-141, -52, 3000),
            "lat": rng.uniform(42, 70, 3000),
        }
    )
    got = (
        G.pip_join_native(spark, spark.createDataFrame(pts), ppdf, how="inner")
        .select("pid", "polygon_id")
        .toPandas()
    )
    got_set = set(zip(got["pid"].tolist(), got["polygon_id"].tolist()))
    exp = set()
    for _, row in ppdf.iterrows():
        rx = np.array([p["x"] for p in row["ring"]])
        ry = np.array([p["y"] for p in row["ring"]])
        inside = pip.points_in_ring(pts["lon"].to_numpy(), pts["lat"].to_numpy(), rx, ry)
        exp |= {(int(i), row["polygon_id"]) for i in np.nonzero(inside)[0]}
    assert got_set == exp


def test_pip_join_left_keeps_unmatched(spark):
    ppdf = generate_polygons(10, seed=42)
    pts = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 10.0], "lat": [0.0, 10.0]})
    out = G.pip_join_native(
        spark, spark.createDataFrame(pts), ppdf, how="left"
    ).toPandas()
    assert len(out) == 2
    assert out["polygon_id"].isna().all()  # equator points match no Canada polygon


def test_salted_join_equals_plain_join(spark):
    """J7 property: salted result set == unsalted result set."""
    pages = pages_df(spark, 2000, seed=42).withColumn(
        "domain", F.regexp_extract("url", r"https://([^./]+)\.", 1)
    )
    dim_rows = [(f"site{i}", f"owner{i % 7}") for i in range(1000)]
    dim = spark.createDataFrame(dim_rows, "domain string, owner string")
    plain = pages.join(dim, "domain").select("url", "owner")
    salted = salted_join(pages, dim, "domain", salt=8).select("url", "owner")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_knn_join_matches_brute_force(spark):
    rng = np.random.default_rng(12)
    n_q, n_c = 200, 500
    q = pd.DataFrame(
        {
            "qid": np.arange(n_q),
            "q_lat": rng.uniform(44, 60, n_q),
            "q_lon": rng.uniform(-100, -60, n_q),
        }
    )
    c = pd.DataFrame(
        {
            "cid": np.arange(n_c),
            "c_lat": rng.uniform(40, 64, n_c),
            "c_lon": rng.uniform(-104, -56, n_c),
        }
    )
    qdf = spark.createDataFrame(q).withColumn(
        "cell_id", G.cell_encode_col(F.col("q_lon"), F.col("q_lat"), 12)
    )
    cdf = spark.createDataFrame(c).withColumn(
        "cell_id", G.cell_encode_col(F.col("c_lon"), F.col("c_lat"), 12)
    )
    # prefix_level=0 -> all candidates share one neighborhood (exact kNN);
    # the scale path uses finer prefixes, correctness is identical.
    got = (
        G.knn_join(qdf, cdf, k=3, query_id="qid", cand_id="cid", prefix_level=0)
        .select("qid", "cid", "knn_rank")
        .toPandas()
        .sort_values(["qid", "knn_rank"])
    )
    from harvester_fgp_spark.geo.distance import haversine_km

    for qid in range(0, n_q, 17):
        d = haversine_km(
            np.full(n_c, q["q_lat"][qid]), np.full(n_c, q["q_lon"][qid]),
            c["c_lat"].to_numpy(), c["c_lon"].to_numpy(),
        )
        exp = np.argsort(d, kind="stable")[:3]
        got_q = got[got["qid"] == qid]["cid"].to_numpy()
        np.testing.assert_array_equal(got_q, exp)


def test_dedup_latest(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("u", t0, None, "old", "en"),
        ("u", t0 + datetime.timedelta(days=1), None, "new", "en"),
        ("v", t0, None, "only", "en"),
    ]
    from harvester_fgp_spark.schemas import PAGES_SCHEMA

    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = {r.url: r.text for r in dedup_latest(df).collect()}
    assert out == {"u": "new", "v": "only"}


def test_bilingual_and_vocab_and_geojson(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    from harvester_fgp_spark.schemas import PAGES_SCHEMA

    df = spark.createDataFrame(
        [("u1", t0, None, "hello", "en"), ("u2", t0, None, "bonjour", "fr")],
        PAGES_SCHEMA,
    )
    out = E.with_bilingual(df, "text", "notes").orderBy("url").collect()
    assert out[0].notes_en == "hello" and out[0].notes_fr is None
    assert out[1].notes_en is None and out[1].notes_fr == "bonjour"

    vm = df.select(
        E.vocab_map_col(E.FREQUENCIES, F.lit("monthly")).alias("f")
    ).first()
    assert vm.f == "P1M"

    gj = df.select(
        E.geojson_bbox_col(F.lit(-80.0), F.lit(40.0), F.lit(-70.0), F.lit(50.0)).alias(
            "s"
        )
    ).first()
    assert gj.s.startswith('{"type": "Polygon"')
    assert "-80.000000" in gj.s and "50.000000" in gj.s


def test_flagship_pipeline_end_to_end(spark):
    from harvester_fgp_spark.plans.pipeline import mine_records, tile_summary

    pages = pages_df(spark, 1500, seed=42)
    ppdf = generate_polygons(100, seed=42)
    records = mine_records(spark, pages, ppdf)
    summary = tile_summary(records).collect()
    assert len(summary) > 0
    assert all(r.n_records >= r.n_urls > 0 for r in summary)
    # determinism: same input -> same output
    records2 = mine_records(spark, pages, ppdf)
    assert records.exceptAll(records2).count() == 0
    assert records2.exceptAll(records).count() == 0
