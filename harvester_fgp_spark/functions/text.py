"""Deterministic text extraction + geo mining kernels (SURVEY.md §2.3).

``extract_text`` is the single source of truth for the byte-identity
invariant (BASELINE.json:15 "byte-identical extracted text per url"):
the fused ``mapInArrow`` stage (plans.pipeline, html-only rows) and the
plain-Python pytest oracle both call THIS function, and tests assert
byte equality per url (SURVEY §5.2-1). Re-expresses the reference's
record normalization ([REF? harvest_hnap.py] — XML XPath extraction) for
HTML pages; keep it dependency-free (stdlib html parsing only) and
strictly deterministic.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata
from html.parser import HTMLParser

_WS_RE = re.compile(r"\s+")

# Tags whose content is never page text.
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
# Tags that imply a word boundary when entered/exited.
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "br", "li", "ul", "ol", "tr", "td", "th", "table",
        "h1", "h2", "h3", "h4", "h5", "h6", "section", "article",
        "header", "footer", "blockquote", "pre", "title", "body",
    }
)


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        if tag in _BLOCK_TAGS:
            self.chunks.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        if tag in _BLOCK_TAGS:
            self.chunks.append(" ")

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self.chunks.append(data)


def extract_text(html: bytes | None) -> str | None:
    """html bytes -> canonical extracted text (E1).

    Deterministic pipeline: UTF-8 decode (replacement on bad bytes) ->
    tag-strip with script/style suppression -> NFC unicode normalization
    -> whitespace canonicalization (any run -> single space, strip).
    """
    if html is None:
        return None
    raw = html.decode("utf-8", errors="replace")
    parser = _TextExtractor()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        # Malformed markup: fall back to a regex tag strip — still
        # deterministic, still the same on both oracle and UDF paths.
        stripped = re.sub(r"<[^>]*>", " ", raw)
        return _WS_RE.sub(" ", unicodedata.normalize("NFC", stripped)).strip()
    text = "".join(parser.chunks)
    return _WS_RE.sub(" ", unicodedata.normalize("NFC", text)).strip()


# --- E2: geo-payload mining ------------------------------------------------
# Both patterns are ASCII-only (re.ASCII): \s, \d and case folding mean
# what they mean in Java regex (operators.extract.payloads_native_col)
# and in RE2, so an NBSP or em space is not a separator, and "weſt:"
# (long s) is not "west:".
# Decimal coordinate pair: "45.4215, -75.6972" (lat, lon). The leading
# (?=[-\d]) is implied by group 1 and changes no match; it lets `re`
# skip start positions that cannot begin one (fused-stage miner, seed
# 903's 13,595 prefiltered rows: 0.356 -> 0.215 CPU s per op). BBOX_RE
# must not get a (?=[wW]) twin: that defeats the case-insensitive
# literal-prefix search and made its scan 1.7x slower.
COORD_PAIR_RE = re.compile(
    r"(?=[-\d])(?<![\d.-])(-?(?:90(?:\.0+)?|[0-8]?\d(?:\.\d+)?))\s*,\s*"
    r"(-?(?:180(?:\.0+)?|1[0-7]\d(?:\.\d+)?|\d?\d(?:\.\d+)?))(?![\d.])",
    re.ASCII,
)
# Bbox phrase: "west: -141.00 east: -52.00 south: 42.00 north: 70.00".
BBOX_RE = re.compile(
    r"west:\s*(-?\d+(?:\.\d+)?)\s+east:\s*(-?\d+(?:\.\d+)?)\s+"
    r"south:\s*(-?\d+(?:\.\d+)?)\s+north:\s*(-?\d+(?:\.\d+)?)",
    re.IGNORECASE | re.ASCII,
)


def _blank(m: re.Match) -> str:
    return " " * len(m.group(0))


def mine_payloads_flat(texts):
    """Flat-array E2 miner: a sequence of texts (a list or a pandas
    Series; anything not a ``str`` is no text) -> flat numpy arrays
    ``(row_idx, payload_idx, kind, lat, lon, west, south, east, north)``.

    Same semantics as ``mine_payloads`` per row (bboxes first in match
    order, then points in match order, same range checks, bbox spans
    masked before point extraction): one ``findall`` per pattern per row,
    the point scan only on rows holding a comma (COORD_PAIR_RE requires
    one, and bbox masking never removes one), and no per-payload dict.
    NaN in the float arrays means "missing" (regexes never produce NaN).
    Property-tested equal to the scalar kernel in tests/test_text_kernels.
    """
    import numpy as np

    nan = float("nan")
    rows: list[int] = []
    pidx: list[int] = []
    is_pt: list[bool] = []
    vals: list[tuple] = []
    for i, t in enumerate(texts):
        if not isinstance(t, str):
            continue
        k = 0
        bbs = BBOX_RE.findall(t)
        if bbs:
            for g in bbs:
                w, e, s, n = map(float, g)
                # west > east allowed: antimeridian-crossing bbox (ISO 19115)
                if -180.0 <= w <= 180.0 and -180.0 <= e <= 180.0 and -90.0 <= s <= n <= 90.0:
                    rows.append(i)
                    pidx.append(k)
                    is_pt.append(False)
                    vals.append((nan, nan, w, s, e, n))
                    k += 1
            # mask EVERY matched span (valid or not), exactly like the
            # scalar kernel, so bbox numbers are never re-mined as points
            t = BBOX_RE.sub(_blank, t)
        if "," in t:
            for la, lo in COORD_PAIR_RE.findall(t):
                lat, lon = float(la), float(lo)
                if -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0:
                    rows.append(i)
                    pidx.append(k)
                    is_pt.append(True)
                    vals.append((lat, lon, nan, nan, nan, nan))
                    k += 1
    v = np.array(vals, dtype=np.float64).reshape(-1, 6)
    return (
        np.array(rows, dtype=np.int64),
        np.array(pidx, dtype=np.int64),
        np.where(np.array(is_pt, dtype=bool), "point", "bbox"),
        *np.ascontiguousarray(v.T),
    )


def mine_payloads(text: str | None) -> list[dict]:
    """Text -> list of geo-payload dicts (kind/lat/lon/west/south/east/north).

    Re-expresses the reference's EX_GeographicBoundingBox extraction
    ([REF? harvest_hnap.py]; corroborated by BASELINE.json:6 "bounding
    boxes and point coordinates mined from metadata-like records").
    Bboxes are mined first and their spans masked so a bbox's numbers are
    not re-mined as bogus point pairs.
    """
    if not text:
        return []
    out: list[dict] = []
    masked = text
    for m in BBOX_RE.finditer(text):
        w, e, s, n = (float(m.group(i)) for i in (1, 2, 3, 4))
        # west > east allowed: antimeridian-crossing bbox (ISO 19115)
        if (
            -180.0 <= w <= 180.0
            and -180.0 <= e <= 180.0
            and -90.0 <= s <= n <= 90.0
        ):
            out.append(
                {
                    "kind": "bbox",
                    "lat": None,
                    "lon": None,
                    "west": w,
                    "south": s,
                    "east": e,
                    "north": n,
                }
            )
        masked = masked.replace(m.group(0), " " * len(m.group(0)), 1)
    for m in COORD_PAIR_RE.finditer(masked):
        lat, lon = float(m.group(1)), float(m.group(2))
        if -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0:
            out.append(
                {
                    "kind": "point",
                    "lat": lat,
                    "lon": lon,
                    "west": None,
                    "south": None,
                    "east": None,
                    "north": None,
                }
            )
    return out


# --- Text analysis (training-data ops) --------------------------------------

_STOPWORDS = {
    "en": frozenset(
        "the of and to in a is that it was for on are as with his they at be "
        "this have from or had by not word but what some we can out other were "
        "all there when up use your how said an each she".split()
    ),
    "fr": frozenset(
        "le la les de des du un une et en est que qui dans pour sur avec ne pas "
        "ce cette ces il elle ils elles nous vous au aux par plus mais ou si "
        "son sa ses leur dont être avoir fait comme tout".split()
    ),
    "es": frozenset(
        "el la los las de del un una y en es que se no por con para su al lo "
        "como más pero sus le ya o este sí porque esta entre cuando muy sin".split()
    ),
    "de": frozenset(
        "der die das und in den von zu mit sich des auf für ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei".split()
    ),
}

_TOKEN_RE = re.compile(r"[a-zA-ZÀ-ɏ]+|\d+|[^\sa-zA-Z\d]")
_WORD_RE = re.compile(r"[a-zA-ZÀ-ɏ]+")
_PUNCT_RE = re.compile(r"[^\w\s]")


def detect_lang(text: str | None) -> str:
    """N-gram/stopword-heuristic language id -> 'en'|'fr'|'es'|'de'|'und'."""
    if not text:
        return "und"
    words = _WORD_RE.findall(text.lower())[:500]
    if not words:
        return "und"
    best, best_hits = "und", 0
    for lang, sw in _STOPWORDS.items():
        hits = sum(1 for w in words if w in sw)
        if hits > best_hits:
            best, best_hits = lang, hits
    return best if best_hits >= max(2, len(words) // 50) else "und"


def quality_score(text: str | None) -> float:
    """Heuristic [0,1] quality: length, word ratio, punct ratio, stopwords."""
    if not text:
        return 0.0
    n = len(text)
    words = _WORD_RE.findall(text.lower())
    if not words:
        return 0.0
    len_score = min(1.0, n / 1000.0)
    mean_wl = sum(map(len, words)) / len(words)
    wl_score = 1.0 if 3.0 <= mean_wl <= 10.0 else 0.5
    punct_ratio = len(_PUNCT_RE.findall(text)) / n
    punct_score = 1.0 if punct_ratio < 0.1 else max(0.0, 1.0 - punct_ratio)
    sw = _STOPWORDS["en"] | _STOPWORDS["fr"]
    sw_ratio = sum(1 for w in words if w in sw) / len(words)
    sw_score = min(1.0, sw_ratio * 4.0)
    return round((len_score + wl_score + punct_score + sw_score) / 4.0, 6)


def lang_quality(text: str | None) -> tuple[str, float]:
    """Fused detect_lang + quality_score: ONE lower()+findall pass feeds
    both outputs (they are separately the dominant cost of each kernel —
    measured 0.073s of 0.083s per 5000 driver docs). Output is
    definitionally identical to calling the two canonical kernels
    (property-tested per row in test_textops_native)."""
    if not text:
        return "und", 0.0
    words = _WORD_RE.findall(text.lower())
    if not words:
        return "und", 0.0
    w500 = words[:500]
    best, best_hits = "und", 0
    for lang, sw in _STOPWORDS.items():
        hits = sum(1 for w in w500 if w in sw)
        if hits > best_hits:
            best, best_hits = lang, hits
    detected = best if best_hits >= max(2, len(w500) // 50) else "und"

    n = len(text)
    len_score = min(1.0, n / 1000.0)
    mean_wl = sum(map(len, words)) / len(words)
    wl_score = 1.0 if 3.0 <= mean_wl <= 10.0 else 0.5
    punct_ratio = len(_PUNCT_RE.findall(text)) / n
    punct_score = 1.0 if punct_ratio < 0.1 else max(0.0, 1.0 - punct_ratio)
    swu = _STOPWORDS["en"] | _STOPWORDS["fr"]
    sw_ratio = sum(1 for w in words if w in swu) / len(words)
    sw_score = min(1.0, sw_ratio * 4.0)
    quality = round((len_score + wl_score + punct_score + sw_score) / 4.0, 6)
    return detected, quality


def token_count(text: str | None) -> int:
    """BPE-ish regex token count (words / digit runs / punct singletons).

    The production path is NATIVE (operators.textops.token_count_col:
    size(regexp_extract_all) in whole-stage codegen); this scalar kernel
    is the pytest oracle for it."""
    if not text:
        return 0
    return len(_TOKEN_RE.findall(text))


def fingerprint64(text: str | None) -> int:
    """Stable 63-bit document fingerprint (sha1-based rolling hash)."""
    if text is None:
        return 0
    h = hashlib.sha1(text.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") & ((1 << 63) - 1)


def shingles(text: str, k: int = 5) -> set[int]:
    """Word k-shingles -> 63-bit hash set (MinHash/Jaccard input)."""
    words = text.lower().split()
    if len(words) < k:
        grams = [" ".join(words)] if words else []
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    return {
        int.from_bytes(hashlib.sha1(g.encode()).digest()[:8], "big") & ((1 << 63) - 1)
        for g in grams
    }
