"""Extraction / normalization stages E1-E7 (SURVEY.md §2.3).

Re-expresses the reference harvester's per-record XML field extraction
([REF? harvest_hnap.py] — XPath + dict assembly, one record at a time) as
native column expressions. The one Python stage of the pages -> records
path is the fused ``mapInArrow`` in plans.pipeline; it and the pytest
oracles call the kernels in functions.text (byte-identity invariant,
BASELINE.json:15). The miner also has a pure-JVM form here
(``payloads_native_col``), property-tested equal to the Python kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import geo as G

# Java-regex twins of the Python miner patterns (functions.text). Java
# supports the same inline-(?i), single-char lookbehind, and lookahead,
# so match sets are identical; masking bbox spans with ONE space instead
# of a length-preserving run is also equivalent (the point pattern only
# ever uses \s* across the boundary) — property-tested against the
# Python kernel in tests/test_native_pipeline.py.
BBOX_RE_J = (
    r"(?i)west:\s*(-?\d+(?:\.\d+)?)\s+east:\s*(-?\d+(?:\.\d+)?)\s+"
    r"south:\s*(-?\d+(?:\.\d+)?)\s+north:\s*(-?\d+(?:\.\d+)?)"
)
COORD_RE_J = (
    r"(?<![\d.-])(-?(?:90(?:\.0+)?|[0-8]?\d(?:\.\d+)?))\s*,\s*"
    r"(-?(?:180(?:\.0+)?|1[0-7]\d(?:\.\d+)?|\d?\d(?:\.\d+)?))(?![\d.])"
)

# NB: built lazily inside the function — a module-level F.lit(...) needs
# an active SparkContext at import time, which a worker re-importing this
# module does not have.
def _dnull() -> Column:
    return F.lit(None).cast("double")


def payloads_native_col(text: Column) -> Column:
    """E2 as a PURE-JVM expression (round 3): the whole miner — both
    regex passes, numeric parsing, range checks, ordinal ordering — in
    whole-stage codegen, no Python anywhere. Semantics identical to
    functions.text.mine_payloads: bboxes first in match order (west>east
    = antimeridian, allowed), bbox spans masked before point extraction,
    same validity filters applied BEFORE ordinals are assigned.
    """
    bb = F.transform(
        F.regexp_extract_all(text, F.lit(BBOX_RE_J), F.lit(0)),
        lambda s: F.struct(
            F.lit("bbox").alias("kind"),
            _dnull().alias("lat"),
            _dnull().alias("lon"),
            F.regexp_extract(s, BBOX_RE_J, 1).cast("double").alias("west"),
            F.regexp_extract(s, BBOX_RE_J, 3).cast("double").alias("south"),
            F.regexp_extract(s, BBOX_RE_J, 2).cast("double").alias("east"),
            F.regexp_extract(s, BBOX_RE_J, 4).cast("double").alias("north"),
        ),
    )
    bb_ok = F.filter(
        bb,
        lambda p: (p["west"] >= -180.0) & (p["west"] <= 180.0)
        & (p["east"] >= -180.0) & (p["east"] <= 180.0)
        & (p["south"] <= p["north"])
        & (p["south"] >= -90.0) & (p["north"] <= 90.0),
    )
    masked = F.regexp_replace(text, BBOX_RE_J, " ")
    pts = F.zip_with(
        F.regexp_extract_all(masked, F.lit(COORD_RE_J), F.lit(1)),
        F.regexp_extract_all(masked, F.lit(COORD_RE_J), F.lit(2)),
        lambda a, b: F.struct(
            F.lit("point").alias("kind"),
            a.cast("double").alias("lat"),
            b.cast("double").alias("lon"),
            _dnull().alias("west"),
            _dnull().alias("south"),
            _dnull().alias("east"),
            _dnull().alias("north"),
        ),
    )
    pts_ok = F.filter(
        pts,
        lambda p: (p["lat"] >= -90.0) & (p["lat"] <= 90.0)
        & (p["lon"] >= -180.0) & (p["lon"] <= 180.0),
    )
    return F.concat(bb_ok, pts_ok)


def with_payloads(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P5 prefilter -> E2 mine (``payloads_native_col``) -> posexplode to
    one row per payload, plus its representative point (``pt_lat``,
    ``pt_lon``: the point itself, or the bbox center, wrap-aware across
    the antimeridian). Zero Python: the whole stage stays in codegen.

    The prefilter is a strict SUPERSET of minable rows: a coord pair
    needs a comma and a bbox phrase contains "west:" (lower() because
    the bbox pattern is case-insensitive; the OR short-circuits, so
    lower() only runs on comma-free rows). Substring contains() is ~10x
    cheaper than a regex; false positives just yield empty payload
    arrays that posexplode drops. posexplode (not explode) emits the
    payload ordinal for free — the E7 record id needs it, and reading it
    off the array position avoids a row_number window (= one whole
    shuffle) downstream.
    """
    text = F.col(text_col)
    kind = F.col("kind")
    return (
        df.filter(text.contains(",") | F.lower(text).contains("west:"))
        .select(
            "*",
            F.posexplode(payloads_native_col(text)).alias(
                "payload_idx", "payload"
            ),
        )
        .select("*", "payload.*")
        .drop("payload")
        .withColumn(
            "pt_lat",
            F.when(kind == "point", F.col("lat")).otherwise(
                (F.col("south") + F.col("north")) / F.lit(2.0)
            ),
        )
        .withColumn(
            "pt_lon",
            F.when(kind == "point", F.col("lon")).otherwise(
                G.bbox_center_lon_col(F.col("west"), F.col("east"))
            ),
        )
    )


# --- E3: bilingual normalization ---------------------------------------------


def with_bilingual(df: DataFrame, col: str, out_prefix: str) -> DataFrame:
    """Pair en/fr field values into *_en / *_fr columns keyed off lang.

    Replaces the HNAP PT_FreeText pairing ([REF? harvest_hnap.py]):
    fully native when/coalesce. Values arrive NFC-normalized: E1
    (``functions.text.extract_text``) normalizes once, upstream.
    """
    is_fr = F.col("lang") == F.lit("fr")
    return df.withColumn(
        f"{out_prefix}_en", F.when(~is_fr, F.col(col))
    ).withColumn(f"{out_prefix}_fr", F.when(is_fr, F.col(col)))


# --- E4: controlled-vocabulary mapping ---------------------------------------

# Reconstruction of the reference's in-code mapping dicts
# ([REF? harvest_hnap.py] — topic-category / frequency code maps).
TOPIC_CATEGORIES = {
    "farming": "Agriculture",
    "biota": "Nature and Environment",
    "boundaries": "Government and Politics",
    "economy": "Economics and Industry",
    "elevation": "Form Descriptors",
    "environment": "Nature and Environment",
    "health": "Health and Safety",
    "imageryBaseMapsEarthCover": "Form Descriptors",
    "inlandWaters": "Nature and Environment",
    "oceans": "Nature and Environment",
    "society": "Society and Culture",
    "transportation": "Transport",
}

FREQUENCIES = {
    "continual": "P1D",
    "daily": "P1D",
    "weekly": "P1W",
    "fortnightly": "P2W",
    "monthly": "P1M",
    "quarterly": "P3M",
    "biannually": "P6M",
    "annually": "P1Y",
    "asNeeded": "PT0S",
    "irregular": "PT0S",
    "notPlanned": "PT0S",
    "unknown": "PT0S",
}


def vocab_map_col(mapping: dict[str, str], col: Column) -> Column:
    """Vocab code -> label as a NATIVE map literal lookup (no UDF, E4)."""
    pairs = [x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    return F.element_at(F.create_map(*pairs), col)


# --- E5: temporal normalization ----------------------------------------------


def with_temporal(df: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    return df.withColumn("crawl_date", F.date_trunc("day", F.col(ts_col)))


# --- E6: GeoJSON spatial serialization ---------------------------------------


def geojson_bbox_col(west: Column, south: Column, east: Column, north: Column) -> Column:
    """bbox -> GeoJSON Polygon string, fixed 6-decimal formatting (E6).

    Byte-stable: format_string with explicit %.6f — never str(float)
    (SURVEY §7.4-3). Mirrors the reference's `spatial` output field
    ([REF? harvest_hnap.py] — EX_GeographicBoundingBox serialization).
    """
    return F.format_string(
        '{"type": "Polygon", "coordinates": [[[%.6f, %.6f], [%.6f, %.6f], '
        "[%.6f, %.6f], [%.6f, %.6f], [%.6f, %.6f]]]}",
        west, south, east, south, east, north, west, north, west, south,
    )


# --- E7: stable record id ------------------------------------------------------


def record_id_col(url: Column, ordinal: Column) -> Column:
    """sha2(url + payload ordinal) — stands in for fileIdentifier
    ([REF? harvest_hnap.py])."""
    return F.sha2(F.concat_ws("#", url, ordinal.cast("string")), 256)


# --- P2: validity filter + quarantine ------------------------------------------


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) — preserves the reference's report-and-skip
    behavior for invalid records ([REF? harvest_hnap.py] mandatory-field
    checks) as a quarantine branch instead of a log line."""
    cond = (
        F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
        & (F.col("html").isNotNull() | F.col("text").isNotNull())
    )
    return df.filter(cond), df.filter(~cond)
