"""Deterministic synthetic fixtures (FIXTURES.md §1-2, seed=42).

Generates the ``pages`` input table (exact BASELINE.json:15 shape) and the
``polygons`` join dimension as pandas DataFrames; ``pages_df``/``polygons_df``
lift them into Spark with the declared schemas. Everything is a pure
function of (n, seed): fixed row order, no wall clock — goldens and the
DuckDB oracle both depend on that.

The html column is a byte-exact deterministic function of (title, text) so
the E1 byte-identity oracle is checkable (FIXTURES.md §1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_VOCAB = (
    "data open record map layer survey region north value metadata service "
    "catalogue resource field station lake river basin forest climate model "
    "index grid sample network report table entry archive portal access"
).split()

_VOCAB_FR = (
    "données ouvert dossier carte couche relevé région nord valeur service "
    "catalogue ressource champ station lac rivière bassin forêt climat modèle "
    "indice grille échantillon réseau rapport tableau entrée archive portail accès"
).split()

_TLDS = ("ca", "com", "org", "fr")
_LANGS = ("en", "fr", "es", "de", "zh")
_LANG_P = (0.55, 0.30, 0.05, 0.05, 0.05)

BASE_TS = np.datetime64("2024-01-01T00:00:00")


def _sentences(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    idx = rng.integers(0, len(vocab), size=n_words)
    return " ".join(vocab[i] for i in idx)


def generate_pages(n: int, seed: int = 42) -> pd.DataFrame:
    """FIXTURES.md §1: zipf-skewed domains, geo patterns in ~40% of rows,
    vocab-coded metadata phrases ("topic: <code> frequency: <code>") in
    ~30% so the E4 topic/frequency mapping is exercised end-to-end."""
    from .operators.extract import FREQUENCIES, TOPIC_CATEGORIES

    topic_keys = sorted(TOPIC_CATEGORIES)
    freq_keys = sorted(FREQUENCIES)
    rng = np.random.default_rng(seed)
    # zipf(a=1.5) over 1000 domains — intentional skew for salted-join tests.
    dom = np.minimum(rng.zipf(1.5, size=n) - 1, 999)
    tld = rng.integers(0, len(_TLDS), size=n)
    urls = [
        f"https://site{d}.example.{_TLDS[t]}/p/{i}"
        for i, (d, t) in enumerate(zip(dom, tld))
    ]
    secs = rng.integers(0, 30 * 24 * 3600, size=n)
    warc_ts = BASE_TS + secs.astype("timedelta64[s]")
    lang = rng.choice(_LANGS, size=n, p=_LANG_P)

    has_geo = rng.random(n) < 0.40
    geo_is_bbox = rng.random(n) < 0.35
    canada = rng.random(n) < 0.60
    lat = np.where(
        canada, rng.uniform(42.0, 70.0, n), rng.uniform(-85.0, 85.0, n)
    )
    lon = np.where(
        canada, rng.uniform(-141.0, -52.0, n), rng.uniform(-179.0, 179.0, n)
    )
    dlat = rng.uniform(0.05, 3.0, n)
    dlon = rng.uniform(0.05, 3.0, n)
    has_meta = rng.random(n) < 0.30
    topic_i = rng.integers(0, len(topic_keys), size=n)
    freq_i = rng.integers(0, len(freq_keys), size=n)

    texts: list[str] = []
    titles: list[str] = []
    for i in range(n):
        vocab = _VOCAB_FR if lang[i] == "fr" else _VOCAB
        title = _sentences(rng, vocab, 4)
        body = _sentences(rng, vocab, int(rng.integers(20, 60)))
        if has_meta[i]:
            # word-boundary insertion (single-spaced) keeps E1 byte-exact
            meta = (
                f"topic: {topic_keys[topic_i[i]]} "
                f"frequency: {freq_keys[freq_i[i]]}"
            )
            bw = body.split(" ")
            cut = len(bw) // 4
            body = " ".join(bw[:cut] + [meta] + bw[cut:])
        if has_geo[i]:
            if geo_is_bbox[i]:
                w = max(-180.0, lon[i] - dlon[i])
                e = min(180.0, lon[i] + dlon[i])
                s = max(-90.0, lat[i] - dlat[i])
                nn = min(90.0, lat[i] + dlat[i])
                geo = f"west: {w:.2f} east: {e:.2f} south: {s:.2f} north: {nn:.2f}"
            else:
                geo = f"{lat[i]:.4f}, {lon[i]:.4f}"
            # word-boundary insertion keeps single-spacing, which keeps
            # extract_text(html) == text byte-exact (E1 oracle)
            bw = body.split(" ")
            cut = len(bw) // 2
            body = " ".join(bw[:cut] + [geo] + bw[cut:])
        texts.append(title + " " + body)
        titles.append(title)

    # <title> holds the title and <p> holds the body (NOT the full text),
    # so extract_text(html) == "title body" == text, byte-exact (E1 oracle).
    html = [
        (
            f"<html><head><title>{t}</title></head>"
            f"<body><p>{x[len(t) + 1:]}</p></body></html>"
        ).encode("utf-8")
        for t, x in zip(titles, texts)
    ]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(warc_ts),
            "html": html,
            "text": texts,
            "lang": lang,
        }
    )


def generate_polygons(
    n: int = 200, seed: int = 42, holes: bool = False
) -> pd.DataFrame:
    """FIXTURES.md §2: convex-ish rings over Canada, a few concave.

    ``holes=True`` (round 3) adds a ``rings`` column (list of rings per
    polygon, even-odd semantics): every 3rd polygon gets a concentric
    hole (donut), every 5th a second disjoint part (multipolygon). The
    default output is byte-identical to round 2 (golden-stable); the
    ``ring`` column always stays the outer ring.
    """
    rng = np.random.default_rng(seed)
    rows = []

    def _ring(cx, cy, radius, k, concave=False, flat=0.6):
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        r = np.full(k, radius)
        if concave:
            r[::2] *= 0.35
        xs = np.clip(cx + r * np.cos(ang), -179.99, 179.99)
        ys = np.clip(cy + r * np.sin(ang) * flat, -89.99, 89.99)
        ring = [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)]
        ring.append(ring[0])  # close
        return ring, xs, ys

    for i in range(n):
        cx = rng.uniform(-140.0, -53.0)
        cy = rng.uniform(43.0, 69.0)
        radius = rng.uniform(0.1, 5.0)
        k = int(rng.integers(5, 13))
        ring, xs, ys = _ring(cx, cy, radius, k, concave=(i % 17 == 0))
        row = {
            "polygon_id": f"coll-{i:04d}",
            "name_en": f"Collection {i}",
            "name_fr": f"Collection {i} (fr)",
            "ring": ring,
            "minx": float(xs.min()),
            "miny": float(ys.min()),
            "maxx": float(xs.max()),
            "maxy": float(ys.max()),
        }
        if holes:
            rings = [ring]
            if i % 3 == 0:
                hole, _, _ = _ring(cx, cy, radius * 0.4, k)
                rings.append(hole)
            if i % 5 == 0:
                part, pxs, pys = _ring(
                    cx + radius * 4.0, cy, radius * 0.8, k
                )
                rings.append(part)
                row["minx"] = min(row["minx"], float(pxs.min()))
                row["maxx"] = max(row["maxx"], float(pxs.max()))
                row["miny"] = min(row["miny"], float(pys.min()))
                row["maxy"] = max(row["maxy"], float(pys.max()))
            row["rings"] = rings
        rows.append(row)
    return pd.DataFrame(rows)


def pages_df(spark, n: int, seed: int = 42):
    """Synthetic pages as a Spark DataFrame with the declared schema."""
    from .schemas import PAGES_SCHEMA
    from .sources.tables import local_table

    return local_table(spark, generate_pages(n, seed), PAGES_SCHEMA)


def polygons_df(spark, n: int = 200, seed: int = 42):
    from .schemas import POLYGONS_SCHEMA
    from .sources.tables import local_table

    return local_table(spark, generate_polygons(n, seed), POLYGONS_SCHEMA)
