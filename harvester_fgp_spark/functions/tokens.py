"""The engine's one text-hashing substrate: two tokenizers and one word
hasher over Arrow string buffers — zero Python objects per document,
word, or gram. Every near-dup, window and repetition operator calls
these; none keeps its own copy.

The kernels read an Arrow string column's (offsets, utf-8 buffer) pair
zero-copy and run as ~k vectorized numpy passes per batch, where a
native rolling-window plan pays one interpreted higher-order-function
evaluation PER WINDOW.

Two tokenizers:

- ``space_token_arrays`` — EXACTLY ``F.split(col, " ")``: every 0x20
  byte is a boundary, consecutive separators produce empty tokens, an
  empty string is ONE empty token. Decontamination, repeated-span and
  repetition counts must reproduce the native split bit-for-bit.
- ``ws_token_arrays`` — the near-dup rule: bytes A-Z lowercased, split
  on runs of ASCII whitespace (tab, LF, VT, FF, CR, space), no empty
  tokens. MinHash banding, the exact verify and SimHash share it.
  ASCII-only by design: ``É`` is not case-folded and U+00A0 is not a
  separator.

One hasher: ``hash_tokens`` gives each token a uint64; ``gram_hashes``
combines k consecutive token hashes of one document as a polynomial.
Both take the combiner constant (default ``POLY_B``) so the band store
keeps its historical values. ``distinct_runs`` is the shared per-doc
distinct (doc, hash) step.

Hash contract: values are kernel-internal (both sides of any join/count
use the same function), injective for tokens <= 8 bytes, prefix(64)+
length beyond. A 64-bit collision could in principle merge two distinct
grams; consumers verify row-exact output against the native plan on the
fixture SFs (tools/check_oracle.py + OPTIMIZATION_r08.md evidence).
"""

from __future__ import annotations

import numpy as np

#: FNV-1a 64-bit prime — default degree-(k-1) polynomial combiner over
#: token hashes; full-width uint64 wraparound arithmetic.
POLY_B = np.uint64(0x100000001B3)
#: tokens longer than this hash by prefix + byte length (natural-text safe)
WORD_CAP = 64
_FMIX_C1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX_C2 = np.uint64(0xC4CEB9FE1A85EC53)
_LOWER_LUT = np.arange(256, dtype=np.uint8)
_LOWER_LUT[65:91] += 32
_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[9, 10, 11, 12, 13, 32]] = True


def fmix64(h: np.ndarray) -> np.ndarray:
    """splitmix-style finalizer: packed token ints are injective but
    low-entropy in the high bits."""
    h = h ^ (h >> np.uint64(33))
    h = h * _FMIX_C1
    h = h ^ (h >> np.uint64(33))
    h = h * _FMIX_C2
    return h ^ (h >> np.uint64(33))


def string_buffers(col) -> "tuple[np.ndarray, np.ndarray]":
    """(absolute int64 offsets, uint8 data) views of an Arrow string
    array — zero-copy, slice-offset aware. Null slots read as
    zero-length (their offset pair is degenerate): one empty token to
    ``space_token_arrays``, no token to ``ws_token_arrays`` — callers
    that must distinguish null from "" drop nulls first.
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
    offsets: np.ndarray, data: np.ndarray
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Vectorized split-on-space (0x20) tokenization for a whole batch.

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
    spos = np.flatnonzero(data[lo:hi] == 0x20).astype(np.int64) + lo
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


def ws_token_arrays(
    offsets: np.ndarray, data: np.ndarray
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Near-dup tokenization for a whole batch: ASCII-lowercase, split
    on ASCII-whitespace runs, no empty tokens (an empty, null or
    whitespace-only doc has none).

    Returns ``(low, token_doc, starts, lengths, n_tok)``: ``low`` is the
    lowercased copy of the batch's bytes ``data[offsets[0]:offsets[-1]]``
    and ``starts`` index into it; the rest as ``space_token_arrays``."""
    n_docs = len(offsets) - 1
    lo, hi = int(offsets[0]), int(offsets[-1])
    low = _LOWER_LUT[data[lo:hi]]
    nonws = ~_WS_LUT[low]
    # a token starts at a non-ws byte after a ws byte or at a doc start:
    # adjacent docs are contiguous in the buffer with NO separator byte
    prev = np.ones(len(nonws), dtype=bool)
    prev[1:] = ~nonws[:-1]
    # an empty/null doc at the END of the batch starts one past the
    # slice: there is no byte to break at, and it has no token anyway
    ds = offsets[:-1] - lo
    prev[ds[ds < hi - lo]] = True
    starts = np.flatnonzero(nonws & prev).astype(np.int64)
    if not len(starts):
        e = np.empty(0, dtype=np.int64)
        return low, e, e, e, np.zeros(n_docs, dtype=np.int64)
    # token length = non-ws bytes up to the next start: doc starts are
    # token starts, so no token runs past its doc
    lengths = np.add.reduceat(nonws.astype(np.int64), starts)
    token_doc = np.searchsorted(offsets[1:] - lo, starts, side="right")
    n_tok = np.bincount(token_doc, minlength=n_docs).astype(np.int64)
    return low, token_doc.astype(np.int64), starts, lengths, n_tok


def hash_tokens(
    data: np.ndarray,
    starts: np.ndarray,
    lengths: np.ndarray,
    b: np.uint64 = POLY_B,
) -> np.ndarray:
    """uint64 hash per token: first 8 bytes packed little-endian
    (injective there), polynomial in ``b`` over the tail to WORD_CAP for
    longer tokens, mixed with the byte length and finalized by
    ``fmix64``. No case folding here: ``ws_token_arrays`` hands over
    lowercased bytes, ``space_token_arrays`` raw ones."""
    n = len(starts)
    h = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return h
    padded = np.concatenate([data, np.zeros(8, dtype=np.uint8)])
    for j in range(8):
        c = padded[starts + j].astype(np.uint64)
        c[lengths <= j] = 0
        h |= c << np.uint64(8 * j)
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
            tail[alive] = tail[alive] * b + padded[
                lstarts[alive] + j
            ].astype(np.uint64)
            j += 1
        h[long_idx] = h[long_idx] * b + tail
    return fmix64(h * b + lengths.astype(np.uint64))


def gram_hashes(
    word_hash: np.ndarray, token_doc: np.ndarray, k: int, b: np.uint64 = POLY_B
) -> "tuple[np.ndarray, np.ndarray]":
    """(gram_doc, gram_hash) for every k-token window that fits inside
    one document — the vectorized twin of the native
    transform(sequence(0, n_tok - k), ...) window construction: docs
    with fewer than k tokens emit NO grams (no short-doc fallback).
    The hash is the raw degree-(k-1) polynomial in ``b`` over the token
    hashes, with no finalizer: MinHash banding consumes the raw value,
    and counting consumers need only its equality."""
    n = len(word_hash)
    if n < k:
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    same = token_doc[: n - k + 1] == token_doc[k - 1 :]
    idx = np.flatnonzero(same)
    acc = np.zeros(len(idx), dtype=np.uint64)
    for j in range(k):
        acc = acc * b + word_hash[idx + j]
    return token_doc[idx], acc


def distinct_runs(
    doc: np.ndarray, h: np.ndarray
) -> "tuple[np.ndarray, np.ndarray]":
    """Per-doc distinct hashes: ``(order, run_starts)`` where ``order``
    sorts the pairs by (doc, h) — stably, so equal pairs keep their
    input order — and ``run_starts`` are the sorted positions where each
    distinct (doc, h) run begins. ``order[run_starts]`` picks one
    representative per distinct pair."""
    order = np.lexsort((h, doc))
    d, v = doc[order], h[order]
    new = np.ones(len(d), dtype=bool)
    new[1:] = (d[1:] != d[:-1]) | (v[1:] != v[:-1])
    return order, np.flatnonzero(new)
