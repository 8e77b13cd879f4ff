"""Unit tests for the pure text kernels (E1/E2 + training-data ops)."""

from __future__ import annotations

from harvester_fgp_spark.functions import text as T


def test_extract_text_basic():
    html = b"<html><head><title>Hello</title><style>x{}</style></head><body><p>World  now</p><script>var a=1;</script></body></html>"
    assert T.extract_text(html) == "Hello World now"


def test_extract_text_entities_and_unicode():
    html = "<p>café &amp; crème</p>".encode()
    assert T.extract_text(html) == "café & crème"
    # decomposed input (e + combining acute) comes out NFC-composed
    assert T.extract_text("<p>Montre\u0301al</p>".encode()) == "Montréal"


def test_extract_text_none_and_bad_bytes():
    assert T.extract_text(None) is None
    assert T.extract_text(b"\xff\xfe<p>x</p>") is not None


def test_extract_text_deterministic():
    from harvester_fgp_spark.synth import generate_pages

    pdf = generate_pages(200, seed=42)
    out1 = [T.extract_text(h) for h in pdf["html"]]
    out2 = [T.extract_text(bytes(h)) for h in pdf["html"]]
    assert all(
        a.encode("utf-8") == b.encode("utf-8") for a, b in zip(out1, out2)
    )
    # synth html wraps title+text, so extraction reproduces the text column
    assert all(o == t for o, t in zip(out1, pdf["text"]))


def test_mine_payloads_point_and_bbox():
    got = T.mine_payloads(
        "station at 45.4215, -75.6972 area west: -80.00 east: -70.00 "
        "south: 40.00 north: 50.00 end"
    )
    kinds = sorted(p["kind"] for p in got)
    assert kinds == ["bbox", "point"]
    pt = next(p for p in got if p["kind"] == "point")
    assert pt["lat"] == 45.4215 and pt["lon"] == -75.6972
    bb = next(p for p in got if p["kind"] == "bbox")
    assert (bb["west"], bb["south"], bb["east"], bb["north"]) == (
        -80.0, 40.0, -70.0, 50.0,
    )


def test_mine_payloads_rejects_out_of_range():
    assert T.mine_payloads("999.0, 999.0") == []
    assert (
        T.mine_payloads("west: 10 east: -10 south: 5 north: 0") == []
    )  # south > north is degenerate — dropped


def test_mine_payloads_accepts_antimeridian_bbox():
    """west > east is a LEGAL dateline-crossing bbox (ISO 19115) — a
    Fiji/Alaska page must yield a payload (round-3 fix: it was silently
    dropped by every miner variant)."""
    got = T.mine_payloads("west: 177.0 east: -178.0 south: -20.0 north: -15.0")
    assert [p["kind"] for p in got] == ["bbox"]
    assert got[0]["west"] == 177.0 and got[0]["east"] == -178.0


def test_mine_payloads_bbox_numbers_not_remined_as_points():
    got = T.mine_payloads("west: -80.50 east: -70.25 south: 40.75 north: 50.10")
    assert [p["kind"] for p in got] == ["bbox"]


def test_detect_lang():
    assert T.detect_lang("the map of the lake and the river is in the north") == "en"
    assert T.detect_lang("la carte de la rivière et du lac est dans le nord") == "fr"
    assert T.detect_lang("zzz qqq xxx") == "und"
    assert T.detect_lang(None) == "und"


def test_quality_and_tokens():
    good = "The quick brown fox jumps over the lazy dog near the river bank. " * 20
    assert T.quality_score(good) > 0.7
    assert T.quality_score("!!!???###") < 0.3
    assert T.token_count("hello, world 42") == 4  # hello , world 42
    assert T.token_count(None) == 0


def test_fingerprint_stable():
    assert T.fingerprint64("abc") == T.fingerprint64("abc")
    assert T.fingerprint64("abc") != T.fingerprint64("abd")
    assert 0 <= T.fingerprint64("abc") < 1 << 63


def test_shingles():
    s1 = T.shingles("a b c d e f g", k=5)
    s2 = T.shingles("a b c d e f g", k=5)
    assert s1 == s2 and len(s1) == 3


#: Texts whose only separator or case fold is non-ASCII: an NBSP after
#: the comma, em spaces inside a bbox phrase, and a long s (U+017F) in
#: "west:". The miner's patterns are ASCII-only, like Java regex and
#: RE2, so none of them is a payload.
NON_ASCII_NON_PAYLOADS = [
    "45.5,\u00a0-75.25",
    "west:\u2003-80.5\u2003east: -70.25 south: 40.75 north: 50.1",
    "we\u017ft: -80.5 east: -70.25 south: 40.75 north: 50.1",
]


def _flat_payload_lists(texts) -> dict[int, list]:
    """Run ``mine_payloads_flat`` and rebuild per-row payload lists in the
    scalar kernel's dict form, checking the ordinal contract on the way."""
    import numpy as np

    rows, pidx, kind, lat, lon, w, s, e, n = T.mine_payloads_flat(texts)

    def _v(x):
        return None if np.isnan(x) else float(x)

    got: dict[int, list] = {}
    for i in range(len(rows)):
        got.setdefault(int(rows[i]), []).append(
            {"kind": str(kind[i]), "lat": _v(lat[i]), "lon": _v(lon[i]),
             "west": _v(w[i]), "south": _v(s[i]), "east": _v(e[i]),
             "north": _v(n[i])}
        )
        assert pidx[i] == len(got[int(rows[i])]) - 1  # ordinal contract
    return got


def test_batch_miner_property_random_text():
    """The batch (flat-array) miner == scalar oracle on random fragments."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(99)
    frags = ["west:", "east:", "south:", "north:", ",", " ", "-", ".",
             "12", "45.5", "-75.25", "90", "180.0", "x", "99.9", "0"]
    texts = [
        "".join(rng.choice(frags, size=rng.integers(0, 30)))
        for _ in range(500)
    ]
    got = _flat_payload_lists(pd.Series(texts))
    for r, text in enumerate(texts):
        assert got.get(r, []) == T.mine_payloads(text), repr(text)


def test_coord_pair_lookahead_changes_no_match():
    """``COORD_PAIR_RE``'s leading ``(?=[-\\d])`` only skips start
    positions: ``findall`` equals the unprefixed pattern's on the golden
    pages (500, seed 42) and on fuzzed digit / sign / dot / comma /
    whitespace / letter strings."""
    import re

    import numpy as np

    from harvester_fgp_spark.synth import generate_pages

    prefix = "(?=[-\\d])"
    assert T.COORD_PAIR_RE.pattern.startswith(prefix)
    bare = re.compile(T.COORD_PAIR_RE.pattern[len(prefix):], T.COORD_PAIR_RE.flags)
    rng = np.random.default_rng(7)
    alphabet = list("0123456789-.,") + [" ", "\t", "\n", "a", "Z", "e"]
    fuzz = [
        "".join(rng.choice(alphabet, size=rng.integers(0, 40)))
        for _ in range(3000)
    ]
    texts = generate_pages(500, seed=42).text.tolist() + fuzz
    assert sum(len(bare.findall(t)) for t in texts) > 100
    for t in texts:
        assert T.COORD_PAIR_RE.findall(t) == bare.findall(t), repr(t)


def test_flat_miner_equals_scalar():
    """mine_payloads_flat (the fused-stage hot path) == scalar oracle."""
    import pandas as pd

    from harvester_fgp_spark.synth import generate_pages

    cases = [
        None, "", "no geo here", "45.5, -75.5",
        "west: 1 east: 2 south: 3 north: 4, 5.5",
        "west: 10 east: -10 south: 0 north: 5",
        "91.0, 10.0 45.0, 181.0",
        "west: -80.5 east: -70.2 south: 40.1 north: 50.9 then 49.1, -100.2",
        "1.5, 2.5 3.5, 4.5 5.5, 6.5",
        "WEST: -1.5 EAST: 0.5 SOUTH: -2.25 NORTH: 2.5",  # case-insensitive
        *NON_ASCII_NON_PAYLOADS,
    ]
    texts = pd.Series(list(generate_pages(2000, seed=42)["text"]) + cases)
    got = _flat_payload_lists(texts)
    for r, text in enumerate(texts):
        assert got.get(r, []) == T.mine_payloads(text), f"row {r}: {text!r}"
    for text in NON_ASCII_NON_PAYLOADS:
        assert T.mine_payloads(text) == [], repr(text)


# --- near-dup band tokenizer / word hasher ---------------------------------

#: Edge documents for the band-kernel pin: empty, null, whitespace-only,
#: tabs and newlines, mixed case, words longer than 8 and 64 bytes,
#: non-ASCII letters and a non-breaking space.
_BAND_EDGE_DOCS = [
    "",
    None,
    "   ",
    "\t\n \r",
    "Hello\tWORLD  foo",
    "hello world foo",
    "a",
    "a b",
    "MiXeD CaSe\x0bWords\x0cHere ok",
    "w " + "x" * 9 + " y " + "q" * 63 + " z",
    "w " + "x" * 200 + " y z " + "x" * 201,
    "Été café été CAFÉ",
    "a b c d",
    " lead and trail ",
]

#: sha256 of every ``_band_rows_arrow`` output column over the pin
#: batches below, computed before the band kernel moved onto
#: ``functions.tokens``; band hashes are store data, so any change here
#: must bump ``dedup.BAND_KERNEL_VERSION``.
_BAND_ROWS_SHA256 = (
    "051ddeae25ed980a44e24cf3aff235b279555f608a4bfcb6fe61a9cf4a98d94f"
)


def _band_pin_batches(sf_dir):
    """sf0.01 documents plus the edge docs, as plain, ``large_string``
    and two sliced arrays (``sf_dir`` is the sf0.001 fixture dir)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")
    t = pq.read_table(path, columns=["text"])
    texts = t.column("text").to_pylist() + _BAND_EDGE_DOCS
    ids = pa.array(range(len(texts)), pa.int64())
    col = pa.array(texts, pa.string())
    yield ids, col
    yield ids, col.cast(pa.large_string())
    yield ids.slice(37, 400), col.slice(37, 400)
    yield ids.slice(len(texts) - 9), col.slice(len(texts) - 9)


def test_band_rows_pinned(sf_dir):
    import hashlib

    from harvester_fgp_spark.operators.dedup import (
        BAND_KERNEL_VERSION,
        _band_rows_arrow,
    )

    sha = hashlib.sha256()
    for ids, texts in _band_pin_batches(sf_dir):
        out = _band_rows_arrow(ids, texts, "doc_id")
        for c in out.columns:
            sha.update(c.to_numpy().tobytes())
    assert sha.hexdigest() == _BAND_ROWS_SHA256
    assert BAND_KERNEL_VERSION == 2


def _near_dup_gram_sets(texts):
    import pyarrow as pa

    from harvester_fgp_spark.operators.dedup import _near_dup_grams

    gdoc, gh = _near_dup_grams(pa.array(texts, pa.string()))
    return [sorted(gh[gdoc == i].tolist()) for i in range(len(texts))]


def test_near_dup_tokenization_rule():
    """One rule for banding, verify and SimHash: ASCII-lowercase and
    split on ASCII-whitespace runs; ``É`` is not case-folded and U+00A0
    is not a separator."""
    g = _near_dup_gram_sets(
        [
            "Hello\tWORLD  foo",
            "hello world foo",
            "Été x y",
            "été x y",
            "a b c d",
            "a b c d",
            "\r\nHELLO \x0bworld\x0c foo ",
        ]
    )
    assert g[0] == g[1] == g[6] and len(g[0]) == 1
    assert g[2] != g[3]
    assert len(g[4]) == 1 and len(g[5]) == 2


def test_arrow_gram_kernel_trailing_empty_docs():
    """An empty/null doc at the END of a batch has offsets[i] == buffer
    end — the doc-start break must be masked, not written one past the
    slice (was IndexError)."""
    import pyarrow as pa

    from harvester_fgp_spark.operators.dedup import _near_dup_grams

    for docs in (
        ["hello world foo bar baz", ""],
        ["a b c d e", None],
        ["", ""],
        ["x y z", "", None, ""],
    ):
        gr, gh = _near_dup_grams(pa.array(docs, type=pa.string()))
        # only the non-empty docs contribute grams
        nonempty = [i for i, d in enumerate(docs) if d]
        assert set(gr.tolist()) <= set(nonempty)
        if nonempty:
            assert len(gr) > 0


def _ref_grams(text):
    """Python longhand of the near-dup rule: a set of word 3-gram
    tuples; fewer words give one gram over all of them."""
    import re

    if text is None:
        return set()
    low = "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in text)
    w = [t for t in re.split(r"[\t\n\x0b\x0c\r ]+", low) if t]
    if not w:
        return set()
    if len(w) < 3:
        return {tuple(w)}
    return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}


def test_verify_jaccard_equals_python_set_jaccard():
    """The verify kernel's Jaccard equals Python set Jaccard over the
    band-tokenizer grams, on random pairs with empty, null, whitespace-
    only, mixed-case, long-word and non-ASCII texts, through plain,
    ``large_string`` and sliced arrays."""
    import numpy as np
    import pyarrow as pa

    from harvester_fgp_spark.operators.dedup import _pair_jaccard

    rng = np.random.default_rng(2024)
    vocab = ["a", "B", "cc", "Dd", "eee", "x" * 9, "Y" * 70, "Été", "q r"]
    seps = [" ", "  ", "\t", "\n", " \r\n", "\x0b"]

    def doc():
        r = rng.random()
        if r < 0.05:
            return None
        if r < 0.1:
            return "" if r < 0.075 else " \t "
        n = int(rng.integers(1, 9))
        parts = []
        for _ in range(n):
            parts += [str(rng.choice(vocab)), str(rng.choice(seps))]
        return "".join(parts[: -1 if rng.random() < 0.5 else None])

    n = 3000
    a = [doc() for _ in range(n)]
    b = [x if rng.random() < 0.2 else doc() for x in a]
    expected = []
    for x, y in zip(a, b):
        ga, gb = _ref_grams(x), _ref_grams(y)
        u = len(ga | gb)
        expected.append(1.0 if u == 0 else len(ga & gb) / u)
    expected = np.array(expected)
    pad = ["pad"] * 7
    for typ in (pa.string(), pa.large_string()):
        got = _pair_jaccard(pa.array(a, typ), pa.array(b, typ))
        assert np.array_equal(got, expected)
        got = _pair_jaccard(
            pa.array(pad + a, typ).slice(7), pa.array(b + pad, typ).slice(0, n)
        )
        assert np.array_equal(got, expected)
    assert (expected == 1.0).sum() > 100 and ((expected > 0) & (expected < 1)).any()


def test_simhash_identical_and_empty():
    """SimHash runs on the near-dup grams: texts equal under the rule
    sign equal; gramless texts sign 0."""
    import pyarrow as pa

    from harvester_fgp_spark.operators.dedup import _simhash_arrow

    sig = _simhash_arrow(
        pa.array(
            ["Hello\tWORLD  foo bar", "hello world foo bar", None, "", " \t",
             "other words entirely here"],
            pa.string(),
        )
    )
    assert sig[0] == sig[1] != 0
    assert sig[2] == sig[3] == sig[4] == 0
    assert sig[5] != sig[0]
    assert (sig >= 0).all()
