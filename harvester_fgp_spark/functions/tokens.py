"""split(" ")-exact tokenization and n-gram hashing over Arrow string
buffers — zero Python objects per document, word, or gram (round 8).

The native rolling-window construction (``operators.dedup._window_hash_rows``)
and the exploding bigram plan (rounds 3-7 ``repetition_stats``) both pay
one interpreted higher-order-function evaluation PER WINDOW; at sf1.0
that is ~15-25M lambda evaluations and dominated their queries (12.7 s /
5.9 s, guide §4.2). These kernels read the Arrow string column's
(offsets, utf-8 buffer) pair zero-copy and run the same computation as
~k vectorized numpy passes.

Tokenization contract — EXACTLY ``F.split(col, " ")``: every 0x20 byte
is a boundary, consecutive separators produce empty tokens, an empty
string is ONE empty token. (The minhash band kernel in operators.dedup
intentionally differs: it lowercases and splits on whitespace RUNS;
near-dup banding wants normalization, decontamination/repetition counts
must reproduce the native split semantics bit-for-bit.)

Hash contract: values are kernel-internal (both sides of any join/count
use the same function), injective for tokens <= 8 bytes, prefix(64)+
length beyond. A 64-bit collision could in principle merge two distinct
grams; consumers verify row-exact output against the native plan on the
fixture SFs (tools/check_oracle.py + OPTIMIZATION_r08.md evidence).
"""

from __future__ import annotations

import numpy as np

#: FNV-1a 64-bit prime — degree-(k-1) polynomial combiner over token
#: hashes; full-width uint64 wraparound arithmetic.
POLY_B = np.uint64(0x100000001B3)
#: tokens longer than this hash by prefix + byte length (natural-text safe)
WORD_CAP = 64
_FMIX_C1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX_C2 = np.uint64(0xC4CEB9FE1A85EC53)


def fmix64(h: np.ndarray) -> np.ndarray:
    """splitmix-style finalizer (same constants as the dedup kernel)."""
    h = h ^ (h >> np.uint64(33))
    h = h * _FMIX_C1
    h = h ^ (h >> np.uint64(33))
    h = h * _FMIX_C2
    return h ^ (h >> np.uint64(33))


def string_buffers(col) -> "tuple[np.ndarray, np.ndarray]":
    """(absolute int64 offsets, uint8 data) views of an Arrow string
    array — zero-copy, slice-offset aware. Null slots read as
    zero-length (their offset pair is degenerate), which downstream
    token math treats as one empty token — callers that must
    distinguish null from "" handle the validity bitmap themselves.
    A zero-length array reads as one zero offset and no data: Arrow lets
    it omit the offsets buffer entirely."""
    import pyarrow as pa

    if len(col) == 0:
        return np.zeros(1, dtype=np.int64), np.empty(0, dtype=np.uint8)
    odt = np.int64 if pa.types.is_large_string(col.type) else np.int32
    _, obuf, dbuf = col.buffers()
    offs = np.frombuffer(obuf, dtype=odt)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(dbuf, dtype=np.uint8)
    return offs, data


def space_token_arrays(
    offsets: np.ndarray, data: np.ndarray, sep: int = 32
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Vectorized split-on-byte tokenization for a whole batch.

    Returns ``(token_doc, starts, lengths, n_tok)``: one entry per token
    in (doc, position) order, absolute byte starts into ``data``, and
    per-doc token counts. Built WITHOUT a sort: first/last token slots
    are scattered from doc offsets, interior slots from separator
    positions — both are already in (doc, position) order, so a
    doc-trailing empty token can never interleave with the next doc's
    first token (a global position sort would tie-break those
    arbitrarily)."""
    n_docs = len(offsets) - 1
    lo, hi = int(offsets[0]), int(offsets[-1])
    spos = np.flatnonzero(data[lo:hi] == sep).astype(np.int64) + lo
    # separators lie strictly inside their doc's [d0, d1) span
    spd = np.searchsorted(offsets[1:], spos, side="right")
    n_tok = np.bincount(spd, minlength=n_docs).astype(np.int64) + 1
    total = int(n_tok.sum())
    first = np.concatenate([[0], np.cumsum(n_tok)])[:-1]
    token_doc = np.repeat(np.arange(n_docs, dtype=np.int64), n_tok)
    starts = np.empty(total, dtype=np.int64)
    ends = np.empty(total, dtype=np.int64)
    fmask = np.zeros(total, dtype=bool)
    fmask[first] = True
    starts[fmask] = offsets[:-1]
    starts[~fmask] = spos + 1
    lmask = np.zeros(total, dtype=bool)
    lmask[first + n_tok - 1] = True
    ends[lmask] = offsets[1:]
    ends[~lmask] = spos
    return token_doc, starts, ends - starts, n_tok


def hash_tokens(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """uint64 hash per token: first 8 bytes packed little-endian
    (injective there), polynomial tail to WORD_CAP for longer tokens,
    mixed with the byte length. No case folding — token equality must
    equal string equality under split(" ")."""
    n = len(starts)
    h = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return h
    padded = np.concatenate([data, np.zeros(8, dtype=np.uint8)])
    for j in range(8):
        b = padded[starts + j].astype(np.uint64)
        b[lengths <= j] = 0
        h |= b << np.uint64(8 * j)
    long_idx = np.flatnonzero(lengths > 8)
    if len(long_idx):
        tail = np.zeros(len(long_idx), dtype=np.uint64)
        lstarts = starts[long_idx]
        llen = np.minimum(lengths[long_idx], WORD_CAP)
        j = 8
        alive = np.arange(len(long_idx))
        while j < int(llen.max(initial=0)):
            alive = alive[llen[alive] > j]
            if not len(alive):
                break
            tail[alive] = tail[alive] * POLY_B + padded[
                lstarts[alive] + j
            ].astype(np.uint64)
            j += 1
        h[long_idx] = h[long_idx] * POLY_B + tail
    return fmix64(h * POLY_B + lengths.astype(np.uint64))


def gram_hashes(
    word_hash: np.ndarray, token_doc: np.ndarray, k: int
) -> "tuple[np.ndarray, np.ndarray]":
    """(gram_doc, gram_hash) for every k-token window that fits inside
    one document — the vectorized twin of the native
    transform(sequence(0, n_tok - k), ...) window construction: docs
    with fewer than k tokens emit NO grams (no short-doc fallback)."""
    n = len(word_hash)
    if n < k:
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    same = token_doc[: n - k + 1] == token_doc[k - 1 :]
    idx = np.flatnonzero(same)
    acc = np.zeros(len(idx), dtype=np.uint64)
    for j in range(k):
        acc = acc * POLY_B + word_hash[idx + j]
    return token_doc[idx], fmix64(acc)
