"""Kernel pass: the public Python kernels timed directly, outside Spark,
on seed-generated batches of 16,384 rows (the session's Arrow batch
size, ``spark.sql.execution.arrow.maxRecordsPerBatch``).

Comparing these per-row costs with the traced Python-node run time of
the same rows gives the share of that node spent in the kernels; the
rest is Arrow transfer and worker overhead.
"""

from __future__ import annotations

import pickle
import time

import numpy as np
import pyarrow as pa

BATCH = 16_384
REPEAT = 3


def _best(fn, repeat: int):
    """(fastest seconds, last result) over ``repeat`` calls."""
    best, out = float("inf"), None
    for _ in range(repeat):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def kernel_pass(seed: int) -> dict[str, float]:
    """Per-row costs of the kernels, fastest of three calls (extraction,
    a per-row stdlib parser, once)."""
    from harvester_fgp_spark.functions import text as T
    from harvester_fgp_spark.functions import tokens as K
    from harvester_fgp_spark.geo import cells
    from harvester_fgp_spark.operators import geo as G
    from harvester_fgp_spark.synth import generate_pages, generate_polygons

    import inputs

    m: dict[str, float] = {}
    rows = BATCH
    pages = generate_pages(rows, seed=seed)

    secs, mined = _best(lambda: T.mine_payloads_flat(pages["text"]), REPEAT)
    rows_i, _, kind, lat, lon, west, south, east, north = mined
    m["functions.text.mine_us_per_page"] = secs / rows * 1e6
    m["functions.text.payloads_per_page"] = len(rows_i) / rows

    html = [bytes(h) for h in pages["html"]]
    secs, _ = _best(lambda: [T.extract_text(h) for h in html], 1)
    m["operators.extract.extract_us_per_page"] = secs / rows * 1e6

    # the fused stage's PIP input: point payloads as-is, bbox centres
    is_pt = kind == "point"
    py = np.where(is_pt, lat, (south + north) / 2.0)
    px = np.where(is_pt, lon, cells.bbox_center_lon(west, east))
    for n_poly in (200, 2000):
        polys = generate_polygons(n_poly, seed=seed)
        secs, index = _best(lambda: G.build_polygon_index(polys), REPEAT)
        m[f"geo.pip.index_build_s_{n_poly}"] = secs
        m[f"geo.pip.index_bytes_{n_poly}"] = len(pickle.dumps(index))
        cand, _ = index.tree.query_points(px, py)
        secs, (pts, _) = _best(lambda: index.match_points(px, py), REPEAT)
        n_pts = max(len(px), 1)
        m[f"geo.pip.match_us_per_point_{n_poly}"] = secs / n_pts * 1e6
        m[f"geo.pip.candidates_per_point_{n_poly}"] = len(cand) / n_pts
        m[f"geo.pip.match_ratio_{n_poly}"] = len(pts) / max(len(cand), 1)

    docs = pa.array(inputs.document_texts(np.random.default_rng(seed), rows))

    def grams():
        offs, data = K.string_buffers(docs)
        tok_doc, starts, lengths, _ = K.space_token_arrays(offs, data)
        return K.gram_hashes(K.hash_tokens(data, starts, lengths), tok_doc, 2)

    secs, _ = _best(grams, REPEAT)
    m["functions.tokens.gram_hashes_ns_per_byte"] = secs / max(docs.nbytes, 1) * 1e9
    return m


def python_parts(k: dict[str, float], pages_in: float, points: float, html_only: float,
                 n_poly: int) -> dict[str, float]:
    """Kernel seconds for the rows one fused-stage run handled, by layer."""
    return {
        "functions.text": pages_in * k["functions.text.mine_us_per_page"] / 1e6,
        "geo.pip": points * k[f"geo.pip.match_us_per_point_{n_poly}"] / 1e6,
        "operators.extract": html_only * k["operators.extract.extract_us_per_page"] / 1e6,
    }
