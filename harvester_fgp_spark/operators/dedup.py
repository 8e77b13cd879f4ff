"""Deduplication operators for training-data pipelines.

- exact: hash-groupBy (pure native — see __spark_entry__ dedup_exact)
- MinHash + LSH banding: shingle -> minhash signature -> band buckets ->
  bucket equi-join -> exact-Jaccard verify. The candidate join is an
  equi-join on (band, band_hash) so Catalyst shuffles once on a compact
  key; the verify step re-computes Jaccard ONLY on candidate pairs.
- SimHash: 64-bit signature + banded buckets for Hamming-neighbor lookup.
- Rolling windows (decontaminate, duplicate_span_counts): split(" ")
  k-token window hashes.

Scale notes: signatures are fixed-width (NUM_PERM longs / one long), so
shuffle width is bounded regardless of document size; band tables are
(id, band, hash) — the classic sub-quadratic near-dup layout. Every text
kernel is a mapInArrow stage over ``functions.tokens`` (no per-row
Python, no Python object per word or gram).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions import tokens as T

NUM_PERM = 32
NUM_BANDS = 8  # 4 rows per band
SHINGLE_K = 3

_MERSENNE = (1 << 61) - 1
_rng = np.random.default_rng(1234)
# Operand bounds are chosen so a*x + b NEVER wraps uint64: a < 2^32 and
# x masked to 31 bits give a*x < 2^63, + b < 2^61 stays < 2^64 — the
# earlier a,x < 2^61 draw silently wrapped mod 2^64 BEFORE the mod-p,
# which is deterministic but not the (a*x+b) mod p universal family the
# LSH banding S-curve math assumes (round-3 review finding). 31-bit gram
# projections add ~2^-31 collision probability per gram pair —
# negligible against the banding's own false-negative rate.
_PERM_A = _rng.integers(1, 1 << 32, size=NUM_PERM, dtype=np.int64)
_PERM_B = _rng.integers(0, _MERSENNE, size=NUM_PERM, dtype=np.int64)
_X_MASK = np.uint64((1 << 31) - 1)

# Odd multiplier for the near-dup word and gram polynomials
# (golden-ratio constant); powers wrap mod 2^64, which is exactly what
# uint64 gives. Band hashes are store data, so it never changes.
_POLY_B = np.uint64(0x9E3779B97F4A7C15)


def _near_dup_grams(texts) -> "tuple[np.ndarray, np.ndarray]":
    """(gram_doc, gram_hash) for one Arrow string column under the
    single near-dup rule (see ``band_table``): ``tokens.ws_token_arrays``
    words, hashed by ``tokens.hash_tokens``, word SHINGLE_K-grams by
    ``tokens.gram_hashes``; a doc with 0 < words < SHINGLE_K contributes
    ONE gram over all its words, a doc with no words none. gram_doc is
    sorted (buffer order)."""
    offs, data = T.string_buffers(texts)
    low, tdoc, starts, lens, n_tok = T.ws_token_arrays(offs, data)
    wh = T.hash_tokens(low, starts, lens, _POLY_B)
    k = SHINGLE_K
    gdoc, gh = T.gram_hashes(wh, tdoc, k, _POLY_B)
    parts_row, parts_hash = [gdoc], [gh]
    wstarts = np.concatenate([[0], np.cumsum(n_tok)])[:-1]
    short_any = False
    for m in range(1, k):
        short = np.flatnonzero(n_tok == m)
        if len(short):
            short_any = True
            acc = np.zeros(len(short), dtype=np.uint64)
            for j in range(m):
                acc = acc * _POLY_B + wh[wstarts[short] + j]
            parts_row.append(short.astype(np.int64))
            parts_hash.append(acc)
    gram_row = np.concatenate(parts_row)
    gram_hash = np.concatenate(parts_hash)
    if short_any:
        order = np.argsort(gram_row, kind="stable")
        gram_row, gram_hash = gram_row[order], gram_hash[order]
    return gram_row, gram_hash


def _band_hashes_from_sigs(sig: np.ndarray) -> np.ndarray:
    """(m, NUM_BANDS) int64 bucket keys: fmix64 of the band's
    rows-per-band signature slots as a polynomial. Any strong 64-bit
    hash of the slot tuple serves the banding contract."""
    rows_per_band = NUM_PERM // NUM_BANDS
    m = sig.shape[0]
    out = np.empty((m, NUM_BANDS), dtype=np.int64)
    u = sig.astype(np.uint64)
    for b in range(NUM_BANDS):
        acc = np.zeros(m, dtype=np.uint64)
        for r in range(rows_per_band):
            acc = acc * _POLY_B + u[:, b * rows_per_band + r]
        out[:, b] = T.fmix64(acc).view(np.int64)
    return out


def _band_rows_arrow(ids, texts, id_name: str):
    """One Arrow batch (id col, text col) -> RecordBatch
    (id repeated per band, band, bh) for every doc with >= 1 gram."""
    import pyarrow as pa

    gram_row, gram_hash = _near_dup_grams(texts)
    if not len(gram_row):
        return None
    with_grams = np.unique(gram_row)
    gstarts = np.searchsorted(gram_row, with_grams)
    x = (gram_hash & _X_MASK).astype(np.uint64)
    sig = np.empty((len(with_grams), NUM_PERM), dtype=np.int64)
    for p in range(NUM_PERM):
        v = (
            x * np.uint64(_PERM_A[p]) + np.uint64(_PERM_B[p])
        ) % np.uint64(_MERSENNE)
        sig[:, p] = np.minimum.reduceat(v, gstarts).astype(np.int64)
    bh = _band_hashes_from_sigs(sig)
    m = len(with_grams)
    take = pa.array(np.repeat(with_grams, NUM_BANDS))
    return pa.RecordBatch.from_arrays(
        [
            ids.take(take),
            pa.array(np.tile(np.arange(NUM_BANDS, dtype=np.int32), m)),
            pa.array(bh.reshape(-1)),
        ],
        names=[id_name, "band", "bh"],
    )


def _pair_jaccard(text_a, text_b) -> np.ndarray:
    """Exact near-dup gram-set Jaccard per row of two aligned Arrow
    string columns. Both sides' grams go through ONE stable lexsort by
    (pair, hash), A-side grams first, so each distinct (pair, hash) run
    holds a side-A gram iff its first entry comes from A and a side-B
    gram iff its last entry comes from B — sizes and intersections are
    bincounts over runs, with no per-pair Python. Null and empty text
    both have zero grams; two zero-gram sides give 1.0."""
    n = len(text_a)
    da, ha = _near_dup_grams(text_a)
    db, hb = _near_dup_grams(text_b)
    doc = np.concatenate([da, db])
    if not len(doc):
        return np.ones(n, dtype=np.float64)
    order, rs = T.distinct_runs(doc, np.concatenate([ha, hb]))
    from_b = order >= len(da)
    has_a = ~from_b[rs]
    has_b = from_b[np.append(rs[1:], len(doc)) - 1]
    run_doc = doc[order[rs]]
    size_a = np.bincount(run_doc[has_a], minlength=n)
    size_b = np.bincount(run_doc[has_b], minlength=n)
    inter = np.bincount(run_doc[has_a & has_b], minlength=n)
    union = size_a + size_b - inter
    out = np.ones(n, dtype=np.float64)
    nz = union > 0
    out[nz] = inter[nz] / union[nz]
    return out


def _jaccard_batches(batches):
    """mapInArrow kernel: (id_a, id_b, text_a, text_b) batches ->
    (id_a, id_b, jaccard)."""
    import pyarrow as pa

    for batch in batches:
        jac = _pair_jaccard(batch.column(2), batch.column(3))
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), batch.column(1), pa.array(jac)],
            names=["id_a", "id_b", "jaccard"],
        )


def band_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, band, bh) — the ONLY columns that cross the LSH band shuffle.

    Fixed-width by construction (two longs + an int per row x NUM_BANDS):
    at 100 TB the band self-join moves O(corpus_rows x NUM_BANDS x 20 B),
    not corpus bytes. tests/test_dedup_scale.py::test_band_table_carries_no_text
    asserts no string column ever enters this table.

    One fused mapInArrow stage (signature + banding + band-row explode)
    over the Arrow string buffers.

    THE NEAR-DUP RULE — one rule, shared by this banding, the exact
    verify (``_pair_jaccard``) and SimHash, all through
    ``_near_dup_grams``: lowercase A-Z, split on runs of ASCII
    whitespace, hash word SHINGLE_K-grams; a doc with fewer words has
    one gram over all of them. Because candidate generation and the
    verify that filters it tokenize identically, a pair's banding
    probability and its verified Jaccard describe the same gram sets.
    TOKENIZATION IS ASCII-ONLY (ADVICE r7): Unicode separators (U+00A0,
    U+3000) do not split and non-ASCII letters are not case-folded;
    normalize upstream for multilingual corpora. The gate oracle
    ``_VERIFY_JACCARD_SQL`` splits on ``' '`` case-sensitively, so it
    agrees with this rule only on lower-case, single-spaced text (the
    fixture's).

    Docs that produce zero grams (null, empty, whitespace-only) emit NO
    band rows: content dedup of contentless docs is meaningless and a
    shared "empty" signature would put every extraction-failed doc in
    ONE bucket per band — a quadratic pair explosion inside a single
    collect_list row reported as jaccard-1.0 "duplicates". Callers
    handle empties as a validity class (P2 quarantine), not near-dups.
    (The explicit null/length filter below keeps the scan predicate
    pushable; the kernel's no-gram rule also covers whitespace-only docs
    the filter lets through.)
    """
    nonempty = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    src = nonempty.select(id_col, text_col)
    schema = StructType(
        [
            src.schema[0],
            StructField("band", IntegerType(), False),
            StructField("bh", LongType(), False),
        ]
    )

    def _bands(batches):
        # NOTE (negative result, round 7): re-chunking the 16384-row
        # session batch into 1024-doc slices makes the kernel 2.3x
        # faster single-thread (cache-resident passes) and +8% at
        # pinned local[4], but DROPPED pinned local[16] throughput
        # 16-17% in two full scaling runs (0.783 -> 0.61-0.65) whether
        # slice outputs were yielded individually (Arrow IPC framing) or
        # concatenated (copy + interpreter overhead where cores are
        # plentiful). Whole-batch processing wins the 4N side, which is
        # the production regime — keep it.
        for batch in batches:
            out = _band_rows_arrow(batch.column(0), batch.column(1), id_col)
            if out is not None:
                yield out

    return src.mapInArrow(_bands, schema)


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    broadcast_candidates: "bool | None" = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with verified shingle-Jaccard >= threshold.

    Plan (round-3 shape — every subtree evaluates exactly ONCE):
    signature -> (id, band, bh) band table -> groupBy bucket -> native
    pair expansion -> ONE broadcast join against the corpus to fetch
    candidate texts -> groupBy pair (dedups multi-band repeats) -> exact
    Jaccard verify.

    History: round 1 shuffled full text through the band self-join;
    round 2 moved to compact keys + broadcast semi-join text fetch, but
    its `cands` subtree fed three consumers, so Spark re-evaluated the
    whole bucket chain ~3x (no CSE across joins) and the self-join ran
    the signature UDF twice. The current shape computes the signature
    once, shuffles only (a) 20-byte band rows and (b) candidate-pair
    texts — both bounded by the LSH contract, not corpus size.
    """
    bands = band_table(docs, id_col, text_col)
    # Candidate generation as groupBy + native pair expansion rather than
    # a self-join: a self-join would evaluate the minhash UDF subtree
    # TWICE over the whole corpus (Spark does not CSE self-join inputs) —
    # at 100 TB that is a second full signature pass. One groupBy on the
    # compact (band, bh) key shuffles each bucket's id list to one place;
    # pairs explode natively (transform x transform, i < j), identical to
    # the join's output. Bucket width is the LSH knob: hot buckets ==
    # near-dup clusters, the quadratic blowup LSH accepts by design.
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return _verify_bucket_pairs(
        docs, buckets, id_col, text_col, threshold, broadcast_candidates
    )


#: Auto mode (broadcast_candidates=None) broadcasts the candidate set
#: only below this many bucket pairs: 500k pairs explode to 1M
#: (id_a, id_b, _id) rows (~50 B each serialized, ≈50 MB) — comfortably
#: inside executor/driver broadcast budgets; above it the text-fetch
#: join plans shuffled and AQE owns the final strategy.
MAX_BROADCAST_PAIRS = 500_000


def _verify_bucket_pairs(
    docs: DataFrame,
    buckets: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    broadcast_candidates: "bool | None",
) -> DataFrame:
    """Shared LSH tail (round 5, extracted from minhash_near_dup_pairs
    for the simhash path): bucket id-lists -> native pair expansion ->
    one broadcast join to fetch candidate texts -> exact gram-Jaccard
    verify. ``buckets`` must carry an ``_ids`` array column with > 1
    entries per row; every other column is ignored.

    ``broadcast_candidates=None`` (the default since round 6) AUTO-SIZES
    the decision instead of making the caller know their corpus's dup
    density up front (round-5 watch item: the unconditional broadcast is
    O(candidate pairs), so a duplicate-heavy 100 TB corpus would OOM the
    driver). Auto mode localCheckpoints the bucket table — ONE
    materialization of the expensive signature subtree, no second UDF
    pass — then counts sum(k*(k-1)/2) over bucket sizes and broadcasts
    only under MAX_BROADCAST_PAIRS. Explicit True/False still force the
    strategy and keep the whole plan lazy (no count job). The single
    non-iterative localCheckpoint here does not hit the compounding-
    origin-stats hazard that _stats_reset_checkpoint exists for."""
    dedup_pairs = True
    if broadcast_candidates is None:
        buckets = buckets.localCheckpoint()
        k = F.size("_ids").cast("long")
        n_pairs = (
            buckets.agg(F.sum(k * (k - F.lit(1)) / F.lit(2)).alias("n")).first()["n"]
            or 0
        )
        broadcast_candidates = n_pairs <= MAX_BROADCAST_PAIRS
        # small candidate sets verify cheaply either way — the distinct
        # exchange only pays for itself once band-repeat volume is real
        dedup_pairs = n_pairs > MAX_BROADCAST_PAIRS // 2
    pair = F.filter(
        F.flatten(
            F.transform(
                "_ids",
                lambda a: F.transform("_ids", lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    # one row per pair; the same pair may repeat across bands — the final
    # per-pair groupBy in the shared tail dedups, saving a distinct here
    pairs = buckets.select(F.explode(pair).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    return _verify_candidate_pairs(
        docs, pairs, id_col, text_col, threshold, broadcast_candidates,
        dedup_pairs=dedup_pairs,
    )


def _verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    broadcast_candidates: bool,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Shared exact-verify tail over a raw (id_a, id_b) candidate frame
    (repeats allowed): fetch both texts with ONE join against the
    corpus, exact gram-Jaccard, threshold. Used by the bucket path and
    the incremental-store path.

    The candidate pair set is USUALLY small (LSH banding exists
    precisely to make it so) -> broadcast it and STREAM the corpus
    through one hash join. It is O(candidate pairs), NOT bounded —
    hence the callers' auto-sizing; a forced broadcast_candidates=False
    drops the hint and the join plans shuffled (AQE may still convert
    back to broadcast at runtime). Results are identical in all modes
    (tests/test_round3_fixes.py, tests/test_round6_fixes.py).

    Round 8 (guide §2.3 "shuffle keys, not payloads"): near-dup pairs
    repeat across LSH bands (~10-16 copies each at the fixture's
    banding), and rounds 3-7 deduped them only in the per-pair groupBy
    BELOW the text fetch — so every repeat dragged both documents'
    texts through the join and the groupBy shuffle. With
    ``dedup_pairs`` (default, and chosen by the bucket path whenever
    the counted candidate volume is large), dedup the 16-byte pair keys
    FIRST: the distinct shuffles pair metadata only, and the text
    fetch/pivot runs once per unique pair; tiny candidate sets skip the
    extra exchange."""
    if dedup_pairs:
        pairs = pairs.distinct()
    cands = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("_id")
    )
    if broadcast_candidates:
        cands = F.broadcast(cands)
    fetched = docs.select(id_col, text_col).join(
        cands, F.col(id_col) == F.col("_id")
    )
    per_pair = fetched.groupBy("id_a", "id_b").agg(
        F.max(
            F.when(F.col("_id") == F.col("id_a"), F.col(text_col))
        ).alias("text_a"),
        F.max(
            F.when(F.col("_id") == F.col("id_b"), F.col(text_col))
        ).alias("text_b"),
    )
    schema = StructType(
        [
            per_pair.schema["id_a"],
            per_pair.schema["id_b"],
            StructField("jaccard", DoubleType(), False),
        ]
    )
    return (
        per_pair.mapInArrow(_jaccard_batches, schema)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: Signature-kernel version stamped into every band store. Band hashes
#: are a function of the kernel (round 7 moved word hashing into the
#: Arrow-native fused kernel), so rows from different kernel eras LOOK
#: compatible but never collide — a mixed store would silently miss
#: every cross-era duplicate. Bump whenever band-hash semantics change.
BAND_KERNEL_VERSION = 2


def _hadoop_path(spark, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _store_kernel_version(spark, path: str) -> "int | None":
    """Version recorded in a band store's ``_kernel_version`` sidecar
    (underscore-prefixed: invisible to the data reads), or None when no
    marker exists. A marker that exists but cannot be read raises: an
    unreadable marker is damage, not a fresh store."""
    marker = f"{path}/_kernel_version"
    fs, p = _hadoop_path(spark, marker)
    if not fs.exists(p):
        return None
    row = spark.read.parquet(marker).first()
    return None if row is None else int(row["kernel_version"])


def _store_has_data(spark, path: str) -> bool:
    """True when ``path`` holds any entry besides hidden (``_``/``.``)
    ones — band partitions or files from some earlier writer."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return False
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p)
    )


def update_minhash_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a batch's band table to a persistent signature STORE —
    the continuous-crawl shape: signatures are computed exactly once
    per document, ever; later batches dedup against the store without
    touching old text. Layout: parquet partitioned by band, so the
    bucket groupBy over (band, bh) reads each band's fixed-width rows
    with partition pruning available to per-band maintenance.

    STORE VERSION (enforced since round 8, ADVICE r7): band hashes are
    a function of the signature kernel — round 7 moved it to the
    Arrow-native fused kernel (different word hash, same LSH contract),
    so stores written by earlier kernels must be rebuilt before mixing
    with new batches (a mixed store would silently miss cross-era
    duplicates: same text, different bh). Every write stamps
    ``_kernel_version``; appending to a store from another era raises
    instead of corrupting it, and so does appending to band data with
    no marker (its era is unknown). An unreadable marker raises too."""
    spark = docs.sparkSession
    stored = _store_kernel_version(spark, path)
    if stored is None and _store_has_data(spark, path):
        raise ValueError(
            f"minhash store {path} holds band data but no _kernel_version "
            "marker, so its signature-kernel era is unknown; rebuild the "
            "store (cross-era band hashes never match)"
        )
    if stored is not None and stored != BAND_KERNEL_VERSION:
        raise ValueError(
            f"minhash store {path} was written by signature-kernel "
            f"v{stored}, current kernel is v{BAND_KERNEL_VERSION}; "
            "rebuild the store (cross-era band hashes never match)"
        )
    (
        band_table(docs, id_col, text_col)
        .write.mode("append")
        .partitionBy("band")
        .parquet(path)
    )
    if stored is None:
        spark.createDataFrame(
            [(BAND_KERNEL_VERSION,)], "kernel_version int"
        ).write.mode("overwrite").parquet(f"{path}/_kernel_version")


#: Degenerate-bucket cap for the incremental path: a bucket with k
#: members expands to k*(k-1)/2 pairs inside ONE collect_list array on
#: ONE task — at 5000 members that is already 12.5M pairs / a ~80 KB id
#: array, and real near-dup clusters stop well short of it. Anything
#: bigger is almost always contentless-doc collision (the batch path
#: drops empties BEFORE signing for exactly this reason) or boilerplate;
#: excluding it is the LSH analogue of the simhash bucket-0 guard.
MAX_INCREMENTAL_BUCKET = 5_000


def minhash_incremental_pairs(
    new_docs: DataFrame,
    store_path: str,
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_candidates: "bool | None" = None,
    max_bucket_size: "int | None" = MAX_INCREMENTAL_BUCKET,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against itself plus the
    signature store (update_minhash_store layout) — old signatures are
    READ, never recomputed, so per-batch cost is O(new batch) + one
    band-table scan, not O(corpus) signature work.

    Only buckets containing at least one NEW id survive, and only pairs
    touching a new id are verified (old-old pairs were reported when
    their batches arrived). ``corpus`` supplies (id, text) for the
    verify join and must cover old candidate ids — at scale that is the
    record table itself; only candidate rows are fetched through the
    one hash join. Returns the same columns as minhash_near_dup_pairs.

    Degenerate-bucket guard (round 7, VERDICT r6 watch item): the new
    batch inherits the batch path's empty-doc drop via ``band_table``,
    but the STORE may carry foreign-writer rows, and a pathological hot
    bucket (boilerplate, contentless docs signed before the guard
    existed) would otherwise build one giant member array on a single
    task. With ``max_bucket_size`` set (default), bucket sizes are
    counted FIRST on the materialized fixed-width band rows and only
    (1, max] buckets ever reach ``collect_list`` — the oversize array is
    never built — and every exclusion is reported via ``warnings.warn``
    with bucket count, worst size, and skipped-pair volume, so silent
    under-reporting is impossible. ``max_bucket_size=None`` restores the
    single-pass unguarded plan (fully lazy when broadcast_candidates is
    explicit).

    Identity guarantee (pytest): stored(batch1) + incremental(batch2)
    ∪ batch1-internal pairs == one-shot pairs over batch1 ∪ batch2.
    """
    spark = new_docs.sparkSession
    stored = _store_kernel_version(spark, store_path)
    if stored != BAND_KERNEL_VERSION:
        # fail FAST (ADVICE r7): a pre-marker or cross-era store looks
        # readable but its band hashes never collide with this kernel's,
        # so every cross-era duplicate would be silently missed
        raise ValueError(
            f"minhash store {store_path} carries signature-kernel "
            f"version {stored!r}, current kernel is "
            f"v{BAND_KERNEL_VERSION}; rebuild the store with "
            "update_minhash_store before incremental dedup"
        )
    new_bands = band_table(new_docs, id_col, text_col).withColumn(
        "_new", F.lit(1)
    )
    old_bands = (
        spark.read.parquet(store_path)
        .select(
            F.col(id_col),
            F.col("band").cast("int").alias("band"),
            F.col("bh"),
        )
        # defensive twin of band_table's empty-doc drop: a foreign
        # writer's null rows must not form a synthetic bucket
        .filter(F.col(id_col).isNotNull() & F.col("bh").isNotNull())
        .withColumn("_new", F.lit(0))
    )
    if max_bucket_size is not None:
        # The guard consumes the band union TWICE (size screen + member
        # join) and Spark never CSEs multi-consumer subtrees — so
        # materialize ONLY the new batch's rows (the part whose
        # signature kernel must run once); the store side is already
        # parquet and re-scans at columnar cost. Checkpointing the whole
        # union would write O(store) rows into executor storage per
        # batch, growing with every batch (round-7 review finding).
        new_bands = new_bands.localCheckpoint()
    allb = old_bands.unionByName(
        new_bands.select(id_col, "band", "bh", "_new")
    )
    if max_bucket_size is not None:
        sizes = allb.groupBy("band", "bh").agg(
            F.count("*").alias("_k"), F.max("_new").alias("_has_new")
        )
        over = sizes.filter(F.col("_k") > max_bucket_size)
        diag = over.agg(
            F.count("*").alias("nb"),
            F.max("_k").alias("mx"),
            F.sum(
                F.col("_k") * (F.col("_k") - F.lit(1)) / F.lit(2)
            ).alias("np"),
        ).first()
        if diag["nb"]:
            import warnings

            warnings.warn(
                f"minhash_incremental_pairs: EXCLUDED {diag['nb']} "
                f"degenerate bucket(s) over max_bucket_size="
                f"{max_bucket_size} (largest {diag['mx']} members, "
                f"~{int(diag['np'])} candidate pairs skipped). These are "
                "near-certainly contentless/boilerplate collisions; "
                "raise max_bucket_size or clean the store if they are "
                "real near-dup clusters.",
                stacklevel=2,
            )
        ok = sizes.filter(
            (F.col("_k") > 1)
            & (F.col("_k") <= max_bucket_size)
            & (F.col("_has_new") == 1)
        ).select("band", "bh")
        allb = allb.join(ok, ["band", "bh"])
    buckets = (
        allb.groupBy("band", "bh")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("_new").alias("nw"))
            ).alias("_members"),
            F.max("_new").alias("_has_new"),
        )
        .filter((F.size("_members") > 1) & (F.col("_has_new") == 1))
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                "_members",
                lambda a: F.transform(
                    "_members",
                    lambda b: F.struct(
                        a["id"].alias("id_a"),
                        b["id"].alias("id_b"),
                        (a["nw"] + b["nw"]).alias("_nw"),
                    ),
                ),
            )
        ),
        lambda p: (p["id_a"] < p["id_b"]) & (p["_nw"] >= 1),
    )
    pairs = buckets.select(F.explode(pair).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    if broadcast_candidates is None:
        pairs = pairs.localCheckpoint()
        broadcast_candidates = pairs.count() <= MAX_BROADCAST_PAIRS
    return _verify_candidate_pairs(
        corpus, pairs, id_col, text_col, threshold, broadcast_candidates
    )


def duplicate_span_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Repeated-span detection (exact substring dedup, re-expressed
    Spark-first): per document, how many of its n_tokens-word windows
    also occur elsewhere in the corpus.

    The suffix-array formulation of train-data span dedup doesn't
    distribute; the equivalent corpus-scale shape is a rolling window
    hash: every document emits one hash per split(" ") token window
    (``_gram_rows_arrow``, the decontaminate kernel), localCheckpointed
    ONCE (it feeds both the occurrence count and the join back; Spark
    never CSEs multi-consumer subtrees — no text leaves the scan stage
    either way).

    Round-4 skew fix: the occurrence count is a plain groupBy(wh) —
    hash aggregation DOES map-side partial combine, so a boilerplate
    span occurring 10^8 times sends one partial row per map task, where
    the round-3 window-over-wh funneled ALL its rows through one task
    (windows have no partial). The duplicated-hash set (>= min
    occurrences only) joins back on the compact 8-byte key: small dup
    sets broadcast at runtime (AQE, from the checkpointed stats), large
    ones plan shuffled where AQE's skew-join split divides a hot wh
    across tasks. One per-document groupBy finishes.

    Output: (id, n_windows, n_dup_windows) per document that has >= 1
    window; callers drop or trim documents above a duplication ratio.
    """
    occ = _gram_rows_arrow(
        docs, n_tokens, id_col, text_col, distinct_per_doc=False
    ).localCheckpoint()
    dup = (
        occ.groupBy("wh")
        .agg(F.count("*").alias("_tot"))
        .filter(F.col("_tot") >= min_occurrences)
        .select("wh", F.lit(1).alias("_dup"))
    )
    return (
        occ.join(dup, "wh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
        .select(id_col, "n_windows", "n_dup_windows")
    )


def _stats_reset_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + RESET of inherited plan statistics (round 4).

    Spark's ``Dataset.localCheckpoint`` truncates the logical plan but
    copies the ORIGIN plan's ``Statistics`` onto the new ``LogicalRDD``
    (``originStats`` — so broadcast decisions keep working after a
    checkpoint). For an ITERATIVE algorithm that is a time bomb: the
    size-only join estimate is the PRODUCT of its children, so estimates
    compound MULTIPLICATIVELY across rounds — digits double per round,
    and by round ~25 the driver burns CPU-minutes inside
    ``BigInteger.multiplyToomCook3`` on numbers with 10^8 digits and
    then dies with "BigInteger would overflow supported range"
    (observed live on a 1M-node contraction: a single stats visit took
    41 CPU-minutes; probe: sizeInBytes had 470..969 DIGITS after round
    1). Rebuilding the Dataset over the SAME materialized rows via
    ``internalCreateDataFrame`` drops ``originStats``: the frame then
    reports the conf default size — crude but CONSTANT, so per-round
    estimates are bounded and AQE's runtime statistics (which drive the
    actual join strategy under adaptive execution) are unaffected.
    No data moves: ``toRdd`` on a checkpointed frame is the already
    materialized internal RDD, not a re-execution.
    """
    ck = df.localCheckpoint()
    spark = ck.sparkSession
    jdf = ck._jdf
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    jumps: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over a pair graph —
    the step after any pairwise dedup op ("keep one doc per cluster").

    Algorithm: CLUSTER-GRAPH CONTRACTION. Each round, every current
    cluster representative adopts the minimum of itself and its neighbor
    reps, the adoption map is pointer-jumped TO IDEMPOTENCE (every rep
    then points at its adoption-tree root), the id->rep mapping composes
    with it, and the edge set contracts through it (self-loops dropped,
    duplicates merged). Only local minima of the contracted graph
    survive a round — an independent set, so every surviving cluster
    absorbed its whole adoption tree; a deep component collapses in few
    rounds regardless of diameter or id placement (a monotone-id path
    contracts in ONE round). (Round-3 history: plain min-label
    propagation needs diameter rounds, and any FIXED number of jumps
    leaves a near-bijection on monotone-id paths — a percolated sf0.1
    DBSCAN graph with ~100-hop diameter silently hit max_iter and
    returned under-merged labels.)

    Termination is EXACT, not heuristic: done when the contracted edge
    set is empty (no cross-cluster edge remains); if max_iter rounds pass
    with edges left the function RAISES instead of returning a wrong
    answer. The contracted edge set shrinks geometrically, so late
    rounds are nearly free.

    Scale shape: per round, one groupBy-min over the contracted edges,
    two rep-sized composition joins, one edge-contraction join +
    distinct — all shuffles on 8-byte keys, all frames bounded by the
    CURRENT cluster/edge count, not the input. Each round
    ``localCheckpoint``s its frames: this TRUNCATES the logical plan,
    which otherwise grows per round until the driver OOMs just
    STRINGIFYING the tree (persist caches data but never cuts lineage —
    round-3 lesson). The RETURNED frame sits on a checkpointed base —
    callers need no unpersist; executor blocks free on GC.

    Measured at 1M nodes (bench/bench_contraction.py, local[16],
    2026-08-17): sparse regime (600k random edges — the production
    near-dup shape) converges in 2 rounds / 13.9 s total; percolated
    regime (a single 1M-node max-diameter PATH, the adversarial case) in
    9 rounds / 21.5 s, edge count decaying geometrically per round
    (2.0M -> 934k -> 131k -> 16k -> 804 -> ... -> 2) with per-round
    seconds tracking the edge count down to a ~1 s scheduler floor —
    i.e. per-round work IS O(current edges) and the fixed cost
    amortizes, as the bench.py geo_dbscan exclusion note claims. Before
    round 4 the same 1M run burned 55+ minutes inside Catalyst BigInt
    stats arithmetic — see _stats_reset_checkpoint.

    Output: (id_col, cluster_id) for EVERY id — singletons cluster with
    themselves; cluster_id = min member id.

    Only nodes that appear in an edge iterate (their labels are the only
    ones that can change or influence anything); the typically-huge
    singleton majority anti-joins back in at the end with self-labels.
    At corpus scale that shrinks the per-round persisted frame from
    |corpus| to |docs with a near-duplicate|.
    """
    sym = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    edge_nodes = sym.select("v").distinct()
    mapping = _stats_reset_checkpoint(
        edge_nodes.select("v", F.col("v").alias("lbl"))
    )
    contracted = _stats_reset_checkpoint(sym)
    n_edges = contracted.count()
    if stats is not None:
        stats["rounds"] = []  # (edges entering the round, seconds)
    for _ in range(max_iter):
        if n_edges == 0:
            break
        import time as _time

        _t0 = _time.monotonic()
        _edges_in = n_edges
        # each rep adopts min(self, neighbor reps); sym is bidirectional,
        # so every endpoint appears as a group key
        adopt = (
            contracted.groupBy(F.col("u").alias("x"))
            .agg(F.min("v").alias("lx"))
            .withColumn("lx", F.least(F.col("x"), F.col("lx")))
        )
        # Pointer-jump the adoption map TO IDEMPOTENCE (every rep points
        # at its adoption-tree ROOT, a local minimum). Partial flattening
        # is worthless: on a monotone-id path every node adopts its
        # predecessor, and a depth-k flatten yields x -> x-k — a near-
        # bijection that merges NOTHING. Full closure maps the whole
        # chain to its minimum in log2(depth) jumps (depth halves per
        # jump; random-id graphs have O(log n) chains, so 2-4 jumps
        # typical). Each jump is a rep-sized self-join on an 8-byte key.
        #
        # Jumps run in GROUPS of ``_JUMP_BATCH`` lazy compositions
        # between checkpoints (round 4): each composition references the
        # previous map twice, so the plan doubles per jump — bounded by
        # 2^batch nodes, nowhere near the exponential-lineage OOM regime
        # — and the group pays ONE localCheckpoint + ONE moved-check
        # instead of one per jump. Deep-path graphs run O(log n) rounds
        # of scheduler-fixed-cost Spark jobs, and measured wall clock is
        # job-count-bound, not data-bound (bench/bench_contraction.py):
        # batching cut per-round jobs ~3x with identical results.
        adopt = _stats_reset_checkpoint(adopt)
        _JUMP_BATCH = 3

        def _compose(frame, with_flag: bool):
            jmp = frame.select(
                F.col("x").alias("_jx"), F.col("lx").alias("_jl")
            )
            # column names are disjoint across sides (x/lx vs _jx/_jl),
            # so bare F.col() resolution is unambiguous in the self-join
            cols = [
                F.col("x"),
                F.coalesce("_jl", "lx").alias("lx"),
            ]
            if with_flag:
                cols.append(
                    (
                        F.col("_jl").isNotNull()
                        & (F.col("_jl") != F.col("lx"))
                    ).alias("_moved")
                )
            return frame.join(
                jmp, F.col("lx") == F.col("_jx"), "left"
            ).select(*cols)

        for _ in range(0, jumps, _JUMP_BATCH):
            frame = adopt
            for _ in range(_JUMP_BATCH - 1):
                frame = _compose(frame, with_flag=False)
            moved_frame = _stats_reset_checkpoint(
                _compose(frame, with_flag=True)
            )
            adopt = moved_frame.select("x", "lx")
            if moved_frame.filter(F.col("_moved")).isEmpty():
                break
        else:
            raise RuntimeError(
                "connected_components: adoption map not idempotent after "
                f"{jumps} pointer jumps"
            )
        mapping = (
            mapping.join(adopt, mapping["lbl"] == adopt["x"], "left")
            .select("v", F.coalesce("lx", "lbl").alias("lbl"))
        )
        mapping = _stats_reset_checkpoint(mapping)
        lu = adopt.select(F.col("x").alias("u"), F.col("lx").alias("_lu"))
        lv = adopt.select(F.col("x").alias("v"), F.col("lx").alias("_lv"))
        contracted = (
            contracted.join(lu, "u", "left")
            .join(lv, "v", "left")
            .select(
                F.coalesce("_lu", F.col("u")).alias("u"),
                F.coalesce("_lv", F.col("v")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        contracted = _stats_reset_checkpoint(contracted)
        n_edges = contracted.count()
        if stats is not None:
            stats["rounds"].append(
                (_edges_in, round(_time.monotonic() - _t0, 3))
            )
    if n_edges != 0:
        raise RuntimeError(
            f"connected_components: {n_edges} cross-cluster edges left "
            f"after {max_iter} contraction rounds"
        )
    singles = ids.join(
        edge_nodes, ids[id_col] == edge_nodes["v"], "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    return mapping.select(
        F.col("v").alias(id_col), F.col("lbl").alias("cluster_id")
    ).unionByName(singles)


# --- SimHash -----------------------------------------------------------------


def _simhash_arrow(texts) -> np.ndarray:
    """int64 SimHash per row of an Arrow string column over the
    near-dup grams (``_near_dup_grams``, repeats counted): per bit b,
    one vector ``(g >> b) & 1`` pass + one ``reduceat`` per-document
    sum; bit b is set where ones strictly exceed half the gram count.
    63 data bits (bit 63 always 0); null, empty and whitespace-only
    text hash to 0."""
    gram_row, gram_hash = _near_dup_grams(texts)
    val = np.zeros(len(texts), dtype=np.int64)
    if len(gram_row):
        with_grams, starts, n_grams = np.unique(
            gram_row, return_index=True, return_counts=True
        )
        acc = np.zeros(len(with_grams), dtype=np.int64)
        for b in range(63):
            ones = np.add.reduceat(
                ((gram_hash >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                starts,
            )
            acc |= ((2 * ones > n_grams).astype(np.int64)) << b
        val[with_grams] = acc
    return val


def _simhash_batches(batches):
    """mapInArrow kernel: (id, text) batches -> (id, simhash)."""
    import pyarrow as pa

    for batch in batches:
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), pa.array(_simhash_arrow(batch.column(1)))],
            names=[batch.schema.names[0], "simhash"],
        )


def simhash_buckets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", band_bits: int = 16
) -> DataFrame:
    """(id, simhash, band, bucket) — banded Hamming-neighbor index. The
    signature is one mapInArrow stage over the Arrow string buffers."""
    src = docs.select(id_col, text_col)
    schema = StructType(
        [src.schema[0], StructField("simhash", LongType(), False)]
    )
    sig = src.mapInArrow(_simhash_batches, schema)
    bands = []
    for b in range(64 // band_bits):
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("bucket"),
            )
        )
    return sig.select(
        id_col, "simhash", F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.bucket")


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    band_bits: int = 16,
    broadcast_candidates: "bool | None" = None,
) -> DataFrame:
    """SimHash-banded near-dup pairs with the EXACT gram-Jaccard verify
    stage (round 5) — the simhash twin of minhash_near_dup_pairs, same
    single-evaluation plan shape: signature computed once, candidates
    from a groupBy on the compact (band, bucket) key + native pair
    expansion (never a self-join), one broadcast text fetch, exact
    verify. Output is identical to the brute-force Jaccard join WHEN the
    banding's recall reaches every >= threshold pair — guaranteed for
    exact duplicates (identical text -> identical simhash -> all bands
    collide) and a measured property for naturals on a given corpus
    (candidates differ from minhash LSH: Hamming-banding vs
    permutation-banding).

    Empty/null docs are dropped up front for the same reason band_table
    drops them: they all simhash to 0, so a corpus with 100k
    extraction-failed docs would put every one of them in bucket 0 of
    every band — a quadratic pair explosion inside single collect_list
    rows — and then report them as jaccard-1.0 "duplicates".
    """
    nonempty = docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    sb = simhash_buckets(nonempty, id_col, text_col, band_bits)
    buckets = (
        sb.groupBy("band", "bucket")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return _verify_bucket_pairs(
        docs, buckets, id_col, text_col, threshold, broadcast_candidates
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard via explode + group (no signatures): for each
    pair sharing >= 1 gram, |A ∩ B| / (|A| + |B| - |A ∩ B|). Native set
    algebra — quadratic in shared-gram pairs, so for bounded corpora /
    post-LSH verification, not the 10^12 path."""
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.lit(0), F.size(F.split(F.col(text_col), " ")) - n
                    ),
                ),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ", F.slice(F.split(F.col(text_col), " "), i + 1, n)
                    )
                ),
            )
        ).alias("gram"),
    ).distinct()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = grams.select(F.col(id_col).alias("id_a"), "gram")
    b = grams.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n_tokens: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION (round 3): flag every training document
    that shares at least one n_tokens-word window with a held-out
    evaluation set — the GPT-3/Pile-style 13-gram overlap rule, the op a
    training pipeline runs before any eval claim is honest.

    Scale shape: both sides emit rolling window hashes (native
    transform/sequence/slice + xxhash64 — the duplicate_span_counts
    construction, no Python, no text past the scan). The benchmark side
    is an EVAL SET — megabytes against a 100 TB corpus — so its distinct
    gram-hash set broadcasts and the corpus streams through one hash
    join; per-doc gram sets are deduped BEFORE the join so the output
    counts distinct shared windows. Nothing shuffles on corpus size
    except the 8-byte (id, hash) gram stream itself.

    Output: (id_col, n_shared) for contaminated docs only; callers
    left-join and treat null as clean.

    Round 8 (guide §4.2 + §2.3): the rolling window hash was a native
    transform/sequence/slice chain — one interpreted concat_ws+xxhash64
    lambda PER WINDOW (~25M at sf1.0; 12.7 s, the round-7 bench's #2
    query). Both sides now hash their windows in ONE zero-copy Arrow
    kernel (functions.tokens: split(" ")-exact tokenization, k-token
    polynomial gram hashes — ~k vectorized passes per batch), and the
    corpus side dedups per doc INSIDE the kernel, so the old corpus-wide
    (id, wh) distinct — the only corpus-sized shuffle in the query —
    disappears: corpus gram rows flow scan -> kernel -> broadcast semi
    join, and only the surviving (contaminated) rows reach the final
    groupBy. Hash values are kernel-internal; gram EQUALITY still means
    word-sequence equality (split-exact tokens), so the shared-window
    counts are unchanged — verified row-exact vs the native plan at
    sf0.01/0.1/1.0 and against the DuckDB string-longhand oracle.
    """
    corpus_g = _gram_rows_arrow(
        docs, n_tokens, id_col, text_col, distinct_per_doc=True
    )
    bench_g = F.broadcast(
        _gram_rows_arrow(
            bench.select(
                F.lit(0).cast("long").alias("_bench_id"),
                F.col(text_col),
            ),
            n_tokens,
            "_bench_id",
            text_col,
            distinct_per_doc=True,
        )
        .select("wh")
        .distinct()
    )
    return (
        corpus_g.join(bench_g, "wh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def _gram_rows_arrow(
    df: DataFrame,
    n_tokens: int,
    id_col: str,
    text_col: str,
    distinct_per_doc: bool,
) -> DataFrame:
    """(id, wh) — one row per k-token window (optionally per-doc
    distinct), hashed in one zero-copy Arrow pass. Matches the native
    transform(sequence, slice) window plan row-for-row up to the hash
    values themselves: split(" ") tokenization (empty tokens included),
    docs with fewer than ``n_tokens`` tokens emit nothing. Null texts
    are dropped before the kernel: ``split(NULL)`` has no tokens, while
    the buffer reader would see one empty token (a window at k=1)."""
    src = df.select(id_col, text_col).dropna(subset=[text_col])
    schema = StructType(
        [src.schema[0], StructField("wh", LongType(), False)]
    )

    def _grams(batches):
        import pyarrow as pa

        for batch in batches:
            ids, texts = batch.column(0), batch.column(1)
            offs, data = T.string_buffers(texts)
            tok_doc, starts, lens, _ = T.space_token_arrays(offs, data)
            wh = T.hash_tokens(data, starts, lens)
            gdoc, gh = T.gram_hashes(wh, tok_doc, n_tokens)
            if not len(gdoc):
                continue
            if distinct_per_doc:
                order, runs = T.distinct_runs(gdoc, gh)
                gdoc, gh = gdoc[order[runs]], gh[order[runs]]
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(gdoc)), pa.array(gh.view(np.int64))],
                names=[id_col, "wh"],
            )

    return src.mapInArrow(_grams, schema)
