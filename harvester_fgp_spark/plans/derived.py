"""Deterministic geo inputs derived from the driver's oracle tables.

The driver's correctness gate (``__spark_entry__.oracle_sql``) runs DuckDB
on the SAME parquet tables as the Spark queries, so geo operators need
inputs both engines can derive **bit-identically**. Trick: derive lat/lon
from ``documents.doc_id`` with integer arithmetic followed by one exact
IEEE division — every basic IEEE op (+,-,*,/) is exactly rounded and hence
identical across engines; only libm calls (tan/ln/sin) can differ in the
last ulp, and those are confined to tile-y / haversine where a boundary
flip has ~1e-16 per-row probability.

The Spark builders and the SQL fragments live side by side HERE so they
cannot drift apart. Any edit to one must edit the other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_testdata

# lat in [-85, 85), lon in [-180, 180), centi-degree grid
_LAT_MUL, _LAT_MOD = 7919, 17000
_LON_MUL, _LON_MOD = 104729, 36000


def points_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lat, lon) — pseudo-geo points, one per document."""
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (
            ((F.col("doc_id") * _LAT_MUL) % _LAT_MOD - F.lit(_LAT_MOD // 2))
            / F.lit(100.0)
        ).alias("lat"),
        (
            ((F.col("doc_id") * _LON_MUL) % _LON_MOD - F.lit(_LON_MOD // 2))
            / F.lit(100.0)
        ).alias("lon"),
    )


POINTS_SQL = f"""
    SELECT doc_id,
           ((doc_id * {_LAT_MUL}) % {_LAT_MOD} - {_LAT_MOD // 2}) / 100.0 AS lat,
           ((doc_id * {_LON_MUL}) % {_LON_MOD} - {_LON_MOD // 2}) / 100.0 AS lon
    FROM documents
"""

# Axis-aligned box dimension (the SQL-expressible stand-in for collection
# polygons; exact ray-cast PIP vs real rings is pytest-verified instead,
# tests/test_geo_props.py + test_operators_spark.py).
N_BOXES = 40


def boxes(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    return spark.range(N_BOXES).select(
        i.alias("box_id"),
        ((i * 17) % 80 - F.lit(140)).cast("double").alias("west"),
        ((i * 7) % 26 + F.lit(42)).cast("double").alias("south"),
        ((i * 17) % 80 - F.lit(140) + (i % 7) + F.lit(4)).cast("double").alias("east"),
        ((i * 7) % 26 + F.lit(42) + (i % 5) + F.lit(2)).cast("double").alias("north"),
    )


BOXES_SQL = f"""
    SELECT i AS box_id,
           CAST((i * 17) % 80 - 140 AS DOUBLE)               AS west,
           CAST((i * 7) % 26 + 42 AS DOUBLE)                 AS south,
           CAST((i * 17) % 80 - 140 + (i % 7) + 4 AS DOUBLE) AS east,
           CAST((i * 7) % 26 + 42 + (i % 5) + 2 AS DOUBLE)   AS north
    FROM range({N_BOXES}) t(i)
"""


# Antimeridian fixtures (round 3): i % 3 == 0 rows are ordinary boxes,
# the rest CROSS the dateline (west > east, ISO 19115-legal) — both
# branches of the wrap-aware cover logic get exercised in one query.
N_WRAP_BOXES = 18


def wrapped_boxes(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    wrapped = (i % 3) != 0
    return spark.range(N_WRAP_BOXES).select(
        i.alias("box_id"),
        F.when(wrapped, ((i * 13) % 25 + F.lit(150)).cast("double"))
        .otherwise(((i * 13) % 25 - F.lit(40)).cast("double"))
        .alias("west"),
        ((i * 5) % 40 - F.lit(20)).cast("double").alias("south"),
        F.when(wrapped, ((i * 11) % 25 - F.lit(180)).cast("double"))
        .otherwise(((i * 13) % 25 - F.lit(40) + (i % 6) + F.lit(3)).cast("double"))
        .alias("east"),
        ((i * 5) % 40 - F.lit(20) + (i % 6) + F.lit(3))
        .cast("double")
        .alias("north"),
    )


WRAP_BOXES_SQL = f"""
    SELECT i AS box_id,
           CAST(CASE WHEN i % 3 != 0 THEN (i * 13) % 25 + 150
                     ELSE (i * 13) % 25 - 40 END AS DOUBLE) AS west,
           CAST((i * 5) % 40 - 20 AS DOUBLE) AS south,
           CAST(CASE WHEN i % 3 != 0 THEN (i * 11) % 25 - 180
                     ELSE (i * 13) % 25 - 40 + (i % 6) + 3 END AS DOUBLE) AS east,
           CAST((i * 5) % 40 - 20 + (i % 6) + 3 AS DOUBLE) AS north
    FROM range({N_WRAP_BOXES}) t(i)
"""


# DBSCAN fixtures (round 3): every document becomes an integer
# centi-degree point (same multipliers as points_from_documents, NOT
# divided by 100 — the whole pipeline stays in int64 so the brute-force
# DuckDB oracle is bit-exact). Every 5th document additionally plants 3
# jittered companions within L-inf 200 <= eps/(2*sqrt2) of its base
# point, so each quad is mutually eps-close (triangle inequality) and all
# four members are guaranteed CORE at min_pts=4; the un-seeded majority
# stays sparse and lands as border/noise — all three DBSCAN roles are
# exercised in one query.
DBSCAN_EPS = 600
DBSCAN_MIN_PTS = 4


def dbscan_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pid, x, y) integer points: one per document + 3 planted
    companions per 5th document (companion pid = doc_id + 100000*k)."""
    docs = read_testdata(spark, sf_dir, "documents")
    d = F.col("doc_id")
    bx = (d * _LON_MUL) % _LON_MOD - F.lit(_LON_MOD // 2)
    by = (d * _LAT_MUL) % _LAT_MOD - F.lit(_LAT_MOD // 2)
    base = docs.select(d.alias("pid"), bx.alias("x"), by.alias("y"))
    seeds = docs.filter(d % 5 == 0)
    comps = None
    for k in (1, 2, 3):
        c = seeds.select(
            (d + 100000 * k).alias("pid"),
            (bx + ((d * 13 + 97 * k) % 400 - 200)).alias("x"),
            (by + ((d * 29 + 53 * k) % 400 - 200)).alias("y"),
        )
        comps = c if comps is None else comps.unionByName(c)
    return base.unionByName(comps)


DBSCAN_POINTS_SQL = f"""
    SELECT doc_id AS pid,
           (doc_id * {_LON_MUL}) % {_LON_MOD} - {_LON_MOD // 2} AS x,
           (doc_id * {_LAT_MUL}) % {_LAT_MOD} - {_LAT_MOD // 2} AS y
    FROM documents
    UNION ALL
    SELECT doc_id + 100000 * k,
           (doc_id * {_LON_MUL}) % {_LON_MOD} - {_LON_MOD // 2}
               + ((doc_id * 13 + 97 * k) % 400 - 200),
           (doc_id * {_LAT_MUL}) % {_LAT_MOD} - {_LAT_MOD // 2}
               + ((doc_id * 29 + 53 * k) % 400 - 200)
    FROM documents, UNNEST([1, 2, 3]) AS t(k)
    WHERE doc_id % 5 = 0
"""


def points_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, user_id, ts, lat, lon) — pseudo-geo trajectory points,
    one per event, keyed for per-user time ordering (G8 track stats).
    Same integer-arithmetic derivation as points_from_documents."""
    ev = read_testdata(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            ((F.col("event_id") * _LAT_MUL) % _LAT_MOD - F.lit(_LAT_MOD // 2))
            / F.lit(100.0)
        ).alias("lat"),
        (
            ((F.col("event_id") * _LON_MUL) % _LON_MOD - F.lit(_LON_MOD // 2))
            / F.lit(100.0)
        ).alias("lon"),
    )


EVENT_POINTS_SQL = f"""
    SELECT event_id, user_id, ts,
           ((event_id * {_LAT_MUL}) % {_LAT_MOD} - {_LAT_MOD // 2}) / 100.0 AS lat,
           ((event_id * {_LON_MUL}) % {_LON_MOD} - {_LON_MOD // 2}) / 100.0 AS lon
    FROM events
"""
