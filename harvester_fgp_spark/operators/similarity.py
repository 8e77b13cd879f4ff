"""Similarity search and dedup over embedding columns (array<float>).

Exact paths:

- ``cosine_topk``: brute-force exact top-k, the correctness baseline
  (one block-partitioned Arrow kernel, bit-identical to native dot
  products).
- ``exact_near_dup_pairs``: every pair with cosine >= t, from a
  guaranteed-complete projection-bucket equi-join.

Approximate paths, each an equi-join plus an exact cosine rerank:

- ``ann_lsh_topk``: random-hyperplane LSH buckets, data-oblivious.
- ``ann_ivf_topk`` / ``build_ivf_index`` + ``query_ivf_index``: a coarse
  quantizer's inverted lists, probed ``n_probe`` cells per query.
- ``pq_train`` / ``pq_topk`` / ``ivf_pq_topk``: product-quantization
  codes scanned by ADC lookups, optionally scoped by IVF cells.
- ``semantic_dedup``: SemDeDup, cosine dedup scoped to quantizer cells.

Every quantizer comes from ONE core: ``_fit_quantizers`` runs seeded
Lloyd over a bounded, deterministic sample (the rows with the smallest
``xxhash64(embedding)``) in one Arrow task, so a fit is one Spark job
and only centroids reach the driver; ``_nearest`` assigns rows to
centroids in bounded GEMM blocks; ``_assign`` is the one Arrow
assignment stage. A quantizer only scopes a candidate join, so the
planted-twin oracles (identical vectors share every cell and code) hold
under any centroid set. Recall floors against brute force live in
tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..sources.tables import local_table

# Recall/compute tradeoff, tuned against brute force on random gaussian
# vectors (the adversarial case — real embedding corpora cluster and do
# better): 6 planes x 8 tables gives ~0.4 recall@5 there vs ~0.08 for
# 10 planes x 6 tables (tests/test_similarity.py enforces the floor).
N_TABLES = 8
N_PLANES = 6  # bits per table -> 64 buckets/table
_DIM_DEFAULT = 64

_rng = np.random.default_rng(77)
_PLANES = _rng.standard_normal((N_TABLES, N_PLANES, _DIM_DEFAULT))


def _dot(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_sim_col(a: str | Column, b: str | Column) -> Column:
    """Cosine of two array columns; null when either vector has zero norm
    (a zero-norm vector has no direction — every operator here drops it
    instead of raising DIVIDE_BY_ZERO under ANSI mode)."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


#: cos_sim is rounded to 6 decimals before ranking, so a candidate can
#: only displace another whose UNROUNDED value is within one rounding
#: step (1e-6) plus both rounding shifts (<= 5e-7 each). A per-block
#: keep-margin of 3e-6 below the block's k-th best unrounded value is
#: therefore a guaranteed superset of the global rounded top-k: if a
#: candidate x is dropped, >= k block-mates have unrounded cos
#: > x + 3e-6, hence rounded cos >= round(x) + 1e-6 — x can never rank
#: <= k. (Proof in OPTIMIZATION_r08.md; the margin is 3x the minimum.)
_TOPK_ROUND_MARGIN = 3.0e-6


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_emb: str = "q_emb",
    c_emb: str = "c_emb",
) -> DataFrame:
    """Exact top-k per query — O(Q x N) pair arithmetic, vectorized.

    Round-8 shape (guide §4.2): the round-1..7 crossJoin evaluated one
    interpreted zip_with/aggregate lambda chain PER PAIR (~130 expression
    evaluations per 64-dim dot product; 55.9 s at 400 x 20k pairs, the
    round-7 driver bench's single most expensive query). The pairs still
    all get computed — exactness requires it — but now inside one
    ``mapInArrow`` kernel that runs the dot products as ~d vectorized
    numpy passes per (candidate-block x query-set) tile: candidates hash
    into n_blocks = max(2 x defaultParallelism, 8) blocks, queries
    replicate to every block (Q x n_blocks rows of metadata-sized
    shuffle, guide §2.3), one hash shuffle on the block id brings each
    block's rows together (AQE may coalesce several blocks into one
    task; the kernel groups its partition by block), and each block
    emits only its margin-guarded top-k superset
    (~k rows per query per block), so the O(Q x N) pair stream never
    hits a shuffle. A native
    round + row_number window over ~k x n_blocks rows per query finishes.

    BIT-EXACT by construction, not approximately equal: the kernel
    accumulates dot products and norms left-to-right over the dimension
    axis in float64 — the same IEEE operation sequence as the native
    aggregate(zip_with(cast double)) it replaces — and the final
    ROUND/rank runs in Spark on the raw doubles, so every emitted
    (q_id, c_id, rank, cos_sim) row is identical to the round-7 plan's
    (verified row-exact at sf0.001/0.01/0.1/1.0; the superset-margin
    argument above covers selection). Null query ids, null embeddings
    and zero-norm vectors have no cosine and drop out.
    """
    spark = queries.sparkSession
    n_blocks = max(int(spark.sparkContext.defaultParallelism) * 2, 8)
    q_sch, c_sch = queries.schema, candidates.schema
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("_blk"))
    # one frame, separate id and embedding columns per side (no type is
    # widened): a query row has a non-null _qid (a null id is no query —
    # the crossJoin plan's q_id != c_id was null), a candidate row a null
    # one. Queries replicate to every block.
    qrep = (
        queries.filter(F.col(q_id).isNotNull())
        .select(
            F.col(q_id).alias("_qid"),
            F.col(q_emb).alias("_qe"),
            F.lit(None).cast(c_sch[c_id].dataType).alias("_cid"),
            F.lit(None).cast(c_sch[c_emb].dataType).alias("_ce"),
        )
        .crossJoin(F.broadcast(blocks))
    )
    cblk = candidates.select(
        F.lit(None).cast(q_sch[q_id].dataType).alias("_qid"),
        F.lit(None).cast(q_sch[q_emb].dataType).alias("_qe"),
        F.col(c_id).alias("_cid"),
        F.col(c_emb).alias("_ce"),
        F.pmod(F.xxhash64(F.col(c_id)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    schema = (
        f"{q_id} {q_sch[q_id].dataType.simpleString()}, "
        f"{c_id} {c_sch[c_id].dataType.simpleString()}, _cos double"
    )
    out = (
        qrep.unionByName(cblk)
        .repartition("_blk")
        .mapInArrow(_block_topk(k, [q_id, c_id, "_cos"]), schema)
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos_sim"), F.asc(c_id))
    return (
        out.withColumn("cos_sim", F.round(F.col("_cos"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "rank", "cos_sim")
    )


def _block_topk(k: int, names: list):
    """cosine_topk's kernel over one partition of (_qid, _qe, _cid, _ce,
    _blk) rows: buffers the partition, and per block emits every (query,
    candidate, cosine) within the rank margin of the query's k-th best.
    Rows with a null embedding have no cosine and drop out."""

    def kernel(batches):
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        t = t.filter(pc.or_(pc.is_valid(t["_qe"]), pc.is_valid(t["_ce"])))
        blk = t["_blk"].to_numpy()
        is_q = pc.is_valid(t["_qid"]).to_numpy()
        for b in np.unique(blk):
            qs = t.filter(pa.array(is_q & (blk == b)))
            cs = t.filter(pa.array(~is_q & (blk == b)))
            if qs.num_rows and cs.num_rows:
                yield _topk_pairs(qs, cs, k, names)

    return kernel


def _topk_pairs(qs, cs, k: int, names: list) -> pa.RecordBatch:
    """Margin-guarded top-k superset of one block's query x candidate
    cosines (see _TOPK_ROUND_MARGIN)."""
    Q = _matrix(qs["_qe"].combine_chunks())
    C = _matrix(cs["_ce"].combine_chunks())
    # left-to-right accumulation over dims: IEEE-identical to the
    # native aggregate(zip_with(...)) sequential double sum
    acc = np.zeros((Q.shape[0], C.shape[0]))
    qn = np.zeros(Q.shape[0])
    cn = np.zeros(C.shape[0])
    for j in range(C.shape[1]):
        acc += Q[:, j : j + 1] * C[:, j]
        qn += Q[:, j] * Q[:, j]
        cn += C[:, j] * C[:, j]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = acc / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :])
    qid = qs["_qid"].combine_chunks()
    cid = cs["_cid"].combine_chunks()
    # a zero norm gives a non-finite cosine: such pairs drop out, as the
    # native try_divide's null does (cosine_sim_col)
    valid = np.isfinite(cos) & (
        qid.to_numpy(zero_copy_only=False)[:, None]
        != cid.to_numpy(zero_copy_only=False)[None, :]
    )
    sel = np.where(valid, cos, -np.inf)
    if sel.shape[1] >= k:
        kth = np.sort(sel, axis=1)[:, -k]
    else:
        kth = np.full(sel.shape[0], -np.inf)
    qi, ci = np.nonzero(valid & (sel >= kth[:, None] - _TOPK_ROUND_MARGIN))
    return pa.RecordBatch.from_arrays(
        [qid.take(pa.array(qi)), cid.take(pa.array(ci)), pa.array(cos[qi, ci])],
        names=names,
    )


def _matrix(col) -> np.ndarray:
    """(rows, dim) float64 matrix of a non-null list<float> Arrow column."""
    return np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)


def _pair_cos(thr_keep: float, emit_cos: bool):
    """The one batched pair-cosine kernel (mapInArrow) over (ia, ib, ea,
    eb, na, nb) rows: emits (ia, ib[, _cos]) where cos >= ``thr_keep``.

    The dot product runs as ~d vectorized numpy passes per batch instead
    of an interpreted zip_with/aggregate lambda chain per pair, and it
    accumulates left-to-right in float64 over the float32 inputs while
    the norms ride in from the caller, so every cosine is bit-identical
    to the native expression. A zero norm gives NaN, which never passes
    the threshold."""

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            A = _matrix(batch.column(2))
            B = _matrix(batch.column(3))
            acc = np.zeros(A.shape[0])
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (
                    batch.column(4).to_numpy(zero_copy_only=False)
                    * batch.column(5).to_numpy(zero_copy_only=False)
                )
            keep = cos >= thr_keep
            mask = pa.array(keep)
            cols = [batch.column(0).filter(mask), batch.column(1).filter(mask)]
            if emit_cos:
                cols.append(pa.array(cos[keep]))
            yield pa.RecordBatch.from_arrays(
                cols, names=["ia", "ib", "_cos"][: len(cols)]
            )

    return kernel


_NEARDUP_RNG = np.random.default_rng(99)


def exact_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = _DIM_DEFAULT,
) -> DataFrame:
    """Exact cosine near-dup pairs (cos >= threshold) WITHOUT an all-pairs
    nested loop — result set identical to the brute-force theta join.

    Blocking with a *guaranteed-complete* candidate set: for unit vectors,
    cos(a,b) >= t implies the chord bound ||a-b|| <= sqrt(2-2t), and any
    unit projection r satisfies |r.a - r.b| <= ||a-b||. So bucketing each
    vector by floor((r.e/||e||)/w) with w = sqrt(2-2t) puts every
    qualifying pair in the same or adjacent bucket; an equi-join on the
    bucket key with the probe side exploded to {b-1, b, b+1} is therefore
    complete, and the exact cosine filter removes the false positives.

    Physical plan: shuffled hash/sort-merge join on an integer key — no
    BroadcastNestedLoopJoin, no O(N^2) row explosion, no driver-sized
    broadcast (the round-1 scale-killer this replaces). At production
    near-dup thresholds (>= 0.9) w is small and the candidate count is
    near-linear; as t -> 0 buckets widen and the plan degrades gracefully
    toward brute force but never misses a pair.

    `w` is derived from threshold - 1e-5 so float rounding at the bucket
    boundary can never push a true pair out of the adjacent-bucket window.
    """
    r = _NEARDUP_RNG.standard_normal(dim)
    r = r / np.linalg.norm(r)
    r_lit = F.array(*[F.lit(float(x)) for x in r])
    w = float(np.sqrt(max(2.0 - 2.0 * (threshold - 1e-5), 1e-12)))

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_e"),
        F.sqrt(_dot(emb_col, emb_col)).alias("_n"),
    ).withColumn(
        # zero norm -> null bucket: the vector joins nothing
        "_bkt",
        F.floor(F.try_divide(_dot("_e", r_lit), F.col("_n") * F.lit(w))).cast(
            "long"
        ),
    )
    probe = base.select(
        F.col("_id").alias("ia"),
        F.col("_e").alias("ea"),
        F.col("_n").alias("na"),
        F.explode(
            F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1)
        ).alias("_bkt"),
    )
    build = base.select(
        F.col("_id").alias("ib"),
        F.col("_e").alias("eb"),
        F.col("_n").alias("nb"),
        "_bkt",
    )
    # Pair cosines in the batched Arrow kernel (_pair_cos) over the joined
    # candidate stream: a qualifying pair matches at exactly one probe
    # bucket and survives ia < ib exactly once. The kernel pre-filters at
    # threshold - 1e-6 (rounding to 6 decimals can raise a value by at
    # most 5e-7, so no pair that rounds past the threshold is ever
    # dropped) and the exact ROUND + >= threshold decision stays native.
    id_t = emb.schema[id_col].dataType.simpleString()
    thr_keep = float(threshold) - 1e-6
    joined = (
        probe.join(build, "_bkt")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "ea", "eb", "na", "nb")
    )

    pairs = joined.mapInArrow(
        _pair_cos(thr_keep, emit_cos=True),
        schema=f"ia {id_t}, ib {id_t}, _cos double",
    )
    return (
        pairs.withColumn("cos_sim", F.round(F.col("_cos"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("ia", "ib", "cos_sim")
    )


def _append_codes(df: DataFrame, emb_col: str, name: str, dtype, codes_fn) -> DataFrame:
    """``df`` plus an ``array<dtype>`` column ``name``, appended by one
    mapInArrow stage: ``codes_fn`` maps the (rows, dim) float64 matrix of
    a batch's non-null embeddings to a (rows, width) integer matrix, one
    list per row; a null embedding gets a null list."""
    schema = StructType(df.schema.fields + [StructField(name, ArrayType(dtype), True)])
    np_type = np.int64 if isinstance(dtype, LongType) else np.int32

    def kernel(batches):
        for b in batches:
            emb = b.column(emb_col)
            valid = emb.is_valid().to_numpy(zero_copy_only=False)
            codes = (
                codes_fn(_matrix(emb.filter(emb.is_valid())))
                if valid.any()
                else np.empty((0, 0))
            ).astype(np_type)
            lens = np.where(valid, codes.shape[1], 0)
            offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
            arr = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(codes.ravel()), mask=pa.array(~valid)
            )
            yield b.append_column(name, arr)

    return df.mapInArrow(kernel, schema)


def _lsh_buckets(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """``df`` + ``_bkts`` (array<bigint>): one bucket key per LSH table,
    (table << 32) | the sign code of the vector against its planes."""
    planes = _PLANES if dim == _DIM_DEFAULT else np.random.default_rng(77).standard_normal(
        (N_TABLES, N_PLANES, dim)
    )
    weights = 1 << np.arange(N_PLANES, dtype=np.int64)
    tables = np.arange(N_TABLES, dtype=np.int64) << 32

    def codes(X):
        signs = np.einsum("bd,tpd->btp", X, planes) > 0  # (batch, T, P)
        return tables | (signs * weights).sum(axis=2)

    return _append_codes(df, emb_col, "_bkts", LongType(), codes)


# --- Vector quantizers: one sample fit, one assignment -----------------------

#: Lloyd rounds per fit. A quantizer here only scopes a candidate join, so
#: it needn't converge: the planted-twin oracles hold under any centroid
#: set, and the recall floors in tests/test_similarity.py hold at 8.
_LLOYD_ITERS = 8
#: Fit sample: 256 rows per center, at most 2^20 rows (one task's worth).
_SAMPLE_PER_CENTER = 256
_SAMPLE_CAP = 1 << 20
#: _nearest keeps each rows x centers distance block under ~2^24 doubles.
_NEAREST_BLOCK = 1 << 24


def _nearest(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Index of each row's nearest center (squared L2). argmin ||x-c||^2
    == argmin(||c||^2 - 2 x.c): one GEMM per row block, blocks sized so
    the distance block stays ~2^24 doubles however many centers."""
    c2 = (centers * centers).sum(axis=1)
    step = max(1, _NEAREST_BLOCK // len(centers))
    out = np.empty(len(X), dtype=np.int32)
    for i in range(0, len(X), step):
        out[i : i + step] = np.argmin(c2 - 2.0 * (X[i : i + step] @ centers.T), axis=1)
    return out


def _lloyd(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    """(k, dim) centers: seeded random init from the sample rows (with
    replacement only when there are fewer rows than centers), then
    _LLOYD_ITERS assign/mean rounds; a center left without rows stays."""
    C = X[np.random.default_rng(seed).choice(len(X), k, replace=len(X) < k)]
    for _ in range(_LLOYD_ITERS):
        lab = _nearest(X, C)
        n = np.bincount(lab, minlength=k)[:, None]
        S = np.stack([np.bincount(lab, X[:, j], k) for j in range(X.shape[1])], 1)
        C = np.where(n > 0, S / np.maximum(n, 1), C)
    return C


def _fit_quantizers(
    vectors: DataFrame,
    emb_col: str,
    n_cells: "int | None" = None,
    pq: "tuple[int, int] | None" = None,
) -> "tuple[np.ndarray | None, list | None]":
    """Fit every requested quantizer in ONE Spark job: a coarse
    ``n_cells``-center quantizer and/or ``pq=(m, k)`` product-quantizer
    sub-spaces. Returns (coarse centers (n_cells, d) or None, PQ codebook
    [m][k][d/m] or None).

    The sample is the min(256 x max k, 2^20) non-null rows with the
    smallest xxhash64(embedding): deterministic for a given corpus, no
    id column or row count needed, and bounded whatever the corpus size
    (the bounded-sample approach of Random Sampling Over Spatial Range
    Joins, ICDE 2025). One Arrow task runs seeded Lloyd over it; only the
    centroids come back, so the corpus never reaches the driver."""
    m, kc = pq or (0, 0)
    cap = min(_SAMPLE_PER_CENTER * max(n_cells or 0, kc), _SAMPLE_CAP)
    sample = (
        vectors.filter(F.col(emb_col).isNotNull())
        .select(F.col(emb_col).alias("_e"))
        .orderBy(F.xxhash64("_e"))
        .limit(cap)
    )

    def fit(batches):
        rows = [_matrix(b.column(0)) for b in batches if b.num_rows]
        if not rows:
            return
        X = np.concatenate(rows)
        d = X.shape[1]
        # all centers flattened into one list: coarse, then PQ sub-spaces
        parts = [_lloyd(X, n_cells, 7).ravel()] if n_cells else []
        if m and d % m == 0:
            s = d // m
            parts += [
                _lloyd(X[:, i * s : (i + 1) * s], kc, 7 + i).ravel() for i in range(m)
            ]
        flat = np.concatenate(parts) if parts else np.empty(0)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([d], pa.int64()),
                pa.ListArray.from_arrays([0, len(flat)], pa.array(flat)),
            ],
            names=["d", "c"],
        )

    row = sample.mapInArrow(fit, "d bigint, c array<double>").first()
    if row is None:
        raise ValueError("quantizer fit: corpus has no non-null embeddings")
    d, flat = row["d"], np.asarray(row["c"], dtype=np.float64)
    if m and d % m:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    nc = n_cells or 0
    coarse = flat[: nc * d].reshape(nc, d) if nc else None
    codebook = flat[nc * d :].reshape(m, kc, d // m).tolist() if m else None
    return coarse, codebook


def _assign_kernel(centers: np.ndarray, w_bkt: "float | None" = None):
    """The one Arrow assignment kernel over (id, emb) rows: emits (c_id,
    c_emb, _cn, cell[, _prj]). ``_cn`` is the L2 norm accumulated
    left-to-right in float64, bit-identical to the native
    sqrt(aggregate(...)), because it divides the rerank cosine; ``cell``
    is the nearest center; with ``w_bkt`` set, ``_prj`` is the
    semantic_dedup chord-bound projection bucket."""

    def assign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            M = _matrix(batch.column(1))
            nn = np.zeros(M.shape[0])
            for j in range(M.shape[1]):
                nn += M[:, j] * M[:, j]
            n = np.sqrt(nn)
            cols = [
                batch.column(0),
                batch.column(1),
                pa.array(n),
                pa.array(_nearest(M, centers)),
            ]
            if w_bkt is not None:
                # a deterministic sin-hash direction per index: adapts to
                # any dimension with no driver-side state. Zero-norm
                # vectors get bucket 0: their cosine is NaN and never
                # qualifies, so this only avoids inf -> int64 UB
                rv = np.sin((np.arange(M.shape[1]) + 1.0) * 12.9898)
                proj = np.where(n > 0, (M @ rv) / np.where(n > 0, n, 1.0), 0.0)
                scale = float(np.sqrt((rv * rv).sum())) * w_bkt
                cols.append(pa.array(np.floor(proj / scale).astype(np.int64)))
            yield pa.RecordBatch.from_arrays(
                cols, names=["c_id", "c_emb", "_cn", "cell", "_prj"][: len(cols)]
            )

    return assign


def _assign(
    vectors: DataFrame,
    centers: np.ndarray,
    id_col: str,
    emb_col: str,
    w_bkt: "float | None" = None,
) -> DataFrame:
    """(c_id, c_emb, _cn, cell[, _prj]) for every non-null vector."""
    sch = vectors.schema
    schema = (
        f"c_id {sch[id_col].dataType.simpleString()}, "
        f"c_emb {sch[emb_col].dataType.simpleString()}, _cn double, cell int"
        + (", _prj bigint" if w_bkt is not None else "")
    )
    return (
        vectors.filter(F.col(emb_col).isNotNull())
        .select(id_col, emb_col)
        .mapInArrow(_assign_kernel(centers, w_bkt), schema)
    )


def _centroid_table(spark: SparkSession, centers: np.ndarray) -> DataFrame:
    """(cell int, ctr array<double>): the tiny broadcast probe table."""
    return local_table(
        spark, list(enumerate(centers.tolist())), "cell int, ctr array<double>"
    )


def _probe(qs: DataFrame, ctr: DataFrame, n_probe: int) -> DataFrame:
    """Each query row (q_id, q_emb, ...) times its n_probe nearest cells:
    native squared L2 over a broadcast cross join on the centroid table,
    then a row_number window; adds ``cell``."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("q_emb"), F.col("ctr"), lambda x, y: (x.cast("double") - y) ** 2
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("_d2"), F.asc("cell"))
    return (
        qs.crossJoin(F.broadcast(ctr))
        .withColumn("_d2", d2)
        .withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= n_probe)
        .drop("ctr", "_d2", "_pr")
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse k-means quantizer + multi-probe.

    The scale path alongside LSH: a sample-fit quantizer
    (_fit_quantizers, one Spark job) partitions the corpus into n_cells
    inverted lists; each query probes its n_probe nearest centroids and
    reranks exactly within those lists. Candidate generation is an
    equi-join on the int cell id — the cross product never materializes,
    and the centroid table (n_cells rows) is a broadcast literal, so
    query assignment is one narrow broadcast join. Null embeddings drop
    out.

    Recall/compute knob: n_probe/n_cells (probing all cells = exact).
    Unlike LSH's data-oblivious hyperplanes, the quantizer adapts to the
    corpus distribution — on clustered real-world embeddings IVF recall
    dominates at equal candidate budgets.
    """
    centers, _ = _fit_quantizers(vectors, emb_col, n_cells=n_cells)
    return _ivf_probe_rank(
        _centroid_table(vectors.sparkSession, centers),
        _assign(vectors, centers, id_col, emb_col),
        queries,
        k,
        n_probe,
        id_col,
        emb_col,
    )


def _ivf_probe_rank(
    ctr: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """Shared IVF tail: probe each query's n_probe nearest cells
    (_probe), equi-join the inverted lists on the int cell id, exact
    cosine rerank. Norms ride the join sides — computed once per vector,
    never per pair (per-pair recomputation tripled the hot-loop
    arithmetic; same IEEE ops, identical values)."""
    qs = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("q_emb"),
        F.sqrt(_dot(emb_col, emb_col)).alias("_qn"),
    )
    pairs = (
        _probe(qs, ctr, n_probe)
        .join(cand, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "_qn", "c_id", "c_emb", "_cn")
    )
    return _cosine_rank(pairs, k)


def _cosine_rank(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k over (q_id, q_emb, _qn, c_id, c_emb, _cn) pairs —
    the rerank tail every ANN path shares. A zero norm gives a null
    cosine, which ranks last and is then dropped; the null filter sits
    above the window so it is never pushed below the projection (which
    would evaluate the dot product twice)."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        pairs.withColumn(
            "cos_sim",
            F.round(
                F.try_divide(_dot("q_emb", "c_emb"), F.col("_qn") * F.col("_cn")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cos_sim").isNotNull())
        .select("q_id", "c_id", "rank", "cos_sim")
    )


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Build and PERSIST an IVF index — the build-once / query-many shape
    real ANN serving needs at corpus scale (re-fitting the quantizer per
    query batch, as ann_ivf_topk does for its self-contained oracle row,
    is a non-starter at 10^12 vectors). The quantizer is the same
    deterministic sample fit as ann_ivf_topk's, so both give identical
    results; null embeddings drop out.

    Layout: ``{path}/centroids`` (tiny parquet: cell, ctr) and
    ``{path}/lists`` Hive-partitioned BY CELL — a query batch probing
    p of n_cells cells prunes to p partitions at the file listing level
    (dynamic partition pruning at scale; the layout is the index).
    Norms are precomputed into the lists so queries never touch them.
    """
    centers, _ = _fit_quantizers(vectors, emb_col, n_cells=n_cells)
    ctr = _centroid_table(vectors.sparkSession, centers)
    ctr.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        _assign(vectors, centers, id_col, emb_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/lists")
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (build_ivf_index layout): broadcast
    the centroid table, probe, equi-join the cell-partitioned lists,
    exact rerank. Identical results to the in-memory ann_ivf_topk for
    the same corpus/parameters (pytest parity)."""
    ctr = spark.read.parquet(f"{path}/centroids")
    cand = spark.read.parquet(f"{path}/lists").withColumn(
        "cell", F.col("cell").cast("int")
    )
    return _ivf_probe_rank(ctr, cand, queries, k, n_probe, id_col, emb_col)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = _DIM_DEFAULT,
) -> DataFrame:
    """Approximate top-k: bucket equi-join (N_TABLES tables) + exact rerank.

    Null embeddings are dropped up front (embed_media emits them for null
    payloads): they have no bucket and no cosine."""
    def side(df: DataFrame, i: str, e: str, n: str) -> DataFrame:
        vs = df.filter(F.col(emb_col).isNotNull()).select(
            F.col(id_col).alias(i),
            F.col(emb_col).alias(e),
            F.sqrt(_dot(emb_col, emb_col)).alias(n),
        )
        return _lsh_buckets(vs, e, dim).select(
            i, e, n, F.explode("_bkts").alias("bucket")
        )

    cand = side(vectors, "c_id", "c_emb", "_cn")
    qs = side(queries, "q_id", "q_emb", "_qn")
    pairs = (
        qs.join(cand, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "_qn", "c_id", "c_emb", "_cn")
        .distinct()
    )
    # per-vector norms ride the bucket join (see ann_ivf_topk note)
    return _cosine_rank(pairs, k)


#: Auto-sizing cap for the semantic_dedup quantizer: the sample fit costs
#: O(256 k^2 d iters) in one task and assignment O(n k d), so k is bounded
#: even when sqrt(n) keeps growing (at n = 10^9, sqrt(n) ~ 31623 <= the
#: cap; past it, candidate pairs grow linearly in n again — the caller
#: should shard first).
MAX_AUTO_CELLS = 32_768


def _auto_n_cells(n: int) -> int:
    """~sqrt(n) clusters, floored at 8 and cost-capped: with k = sqrt(n)
    the expected within-cell pair count is n^2/(2k) = n^1.5/2 — the
    SemDeDup sweet spot where assignment cost (n*k*d) and pair-join
    cost meet — instead of the old fixed k=8's n^2/16 foot-gun. Never
    exceeds n itself (extra cells would only stay empty)."""
    import math

    return max(
        1, min(max(8, int(math.isqrt(max(n, 0)))), MAX_AUTO_CELLS, n)
    )


def semantic_dedup(
    vectors: DataFrame,
    n_cells: "int | None" = None,
    threshold: float = 0.9999,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    stats: "dict | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with a coarse k-means quantizer, then drop every document
    whose cosine similarity to a LOWER-id document in the SAME cluster
    meets ``threshold``; the surviving lower id is the kept
    representative.

    Returns (dropped_id, kept_id) with kept_id = min qualifying partner.

    Scale shape: the all-pairs comparison is scoped to clusters — the
    only join is an equi-join on the int cell id, so candidate pairs are
    sum_c(n_c^2)/2, not n^2/2, and the cluster count is the compute/
    recall knob exactly as in IVF search. Centroids ride a broadcast;
    the pair join shuffles (id, embedding) rows hash-partitioned by cell.

    ``n_cells=None`` (the default since round 7) AUTO-SIZES the
    quantizer to ~sqrt(n) clusters (one count job over the non-null
    vectors, cost-capped at MAX_AUTO_CELLS): the old fixed k=8 meant
    ~n^2/16 candidate pairs at ANY corpus size — quadratic the moment a
    caller forgot to scale k. Auto-k keeps expected pairs at n^1.5/2
    and leaves the explicit knob for recall tuning. Dedup output at
    threshold ~1.0 is k-invariant either way (exact duplicates
    co-cluster under any centroid set).

    Determinism note (oracle strategy, the ann_ivf_recall trick): at
    ``threshold`` ~1.0 the qualifying pairs are exact-duplicate vectors,
    which land in the same cluster under ANY centroid set (identical
    inputs -> identical argmin), so the output is centroid-invariant and
    DuckDB can recompute it as an equality self-join on the raw arrays.
    Lower thresholds trade that invariance for more aggressive semantic
    pruning (pytest covers the planted-near-dup tier).
    """
    vectors = vectors.filter(F.col(emb_col).isNotNull())
    if n_cells is None:
        n_cells = _auto_n_cells(vectors.count())
    centers, _ = _fit_quantizers(vectors, emb_col, n_cells=n_cells)
    # chord-bound projection prefilter (the exact_near_dup_pairs trick,
    # computed ONCE per vector in the assignment kernel): for unit vectors
    # cos(a,b) >= t implies |r.a/(|r||a|) - r.b/(|r||b|)| <= sqrt(2-2t),
    # so within-cell pairs whose integer projection buckets differ by > 1
    # cannot qualify and never reach the cosine — at t ~ 1.0 this kills
    # almost every non-duplicate pair before the full-width dot product.
    # Cell and bucket only SCOPE the join; _cn divides the cosine.
    w_bkt = float(np.sqrt(max(2.0 - 2.0 * (threshold - 1e-5), 1e-12)))
    # assigned feeds BOTH join sides (and the optional stats job): Spark
    # never CSEs multi-consumer subtrees, so without this checkpoint the
    # assignment (n*k*d argmin — real money at auto-k ~ sqrt(n)) would run
    # once PER consumer (single non-iterative localCheckpoint, no
    # _stats_reset hazard)
    assigned = _assign(vectors, centers, id_col, emb_col, w_bkt).localCheckpoint()
    if stats is not None:
        sizes = assigned.groupBy("cell").agg(F.count("*").alias("_k"))
        row = sizes.agg(
            F.sum(F.col("_k")).alias("n"),
            F.sum(
                F.col("_k") * (F.col("_k") - F.lit(1)) / F.lit(2)
            ).alias("scoped"),
        ).first()
        n_total = int(row["n"] or 0)
        stats.update(
            n=n_total,
            k=n_cells,
            scoped_pairs=int(row["scoped"] or 0),
            all_pairs=n_total * (n_total - 1) // 2,
        )
    lo = assigned.select(
        "cell",
        F.col("c_id").alias("ia"),
        F.col("c_emb").alias("ea"),
        F.col("_cn").alias("na"),
        F.col("_prj").alias("_lo_p"),
    )
    hi = assigned.select(
        "cell",
        F.col("c_id").alias("ib"),
        F.col("c_emb").alias("eb"),
        F.col("_cn").alias("nb"),
        F.col("_prj").alias("_bkt"),
    )
    # chord prefilter AS A JOIN KEY (round 7, was filter-after-join): the
    # lo side explodes to its 3 admissible buckets {p-1, p, p+1} and the
    # join is equi on (cell, bucket) — |lo_p - hi_p| <= 1 holds iff
    # EXACTLY ONE exploded row matches (no dedup needed), so non-dup
    # pairs never materialize at all instead of materializing and dying
    # in a post-join filter. At auto-k + threshold ~1.0 this turns the
    # within-cell n_c^2 row stream into only the chord-admissible pairs.
    lo3 = lo.withColumn(
        "_bkt",
        F.explode(
            F.array(
                F.col("_lo_p") - 1, F.col("_lo_p"), F.col("_lo_p") + 1
            )
        ),
    )
    # Pair cosines in the batched Arrow kernel (_pair_cos): the exact
    # (cos >= threshold) decision on bit-identical cosines (verified
    # row-exact at sf0.01/0.1/1.0). Per-batch, not per-(cell, bucket)
    # group: a cogroup paid Arrow overhead per group (+2 s at sf0.1).
    id_t = vectors.schema[id_col].dataType.simpleString()
    joined = (
        lo3.join(hi, ["cell", "_bkt"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "ea", "eb", "na", "nb")
    )
    pairs = joined.mapInArrow(
        _pair_cos(float(threshold), emit_cos=False), schema=f"ia {id_t}, ib {id_t}"
    )
    return pairs.groupBy(F.col("ib").alias("dropped_id")).agg(
        F.min("ia").alias("kept_id")
    )


# --- Product quantization (round 7): the compressed-ANN scale path ----------


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    emb_col: str = "embedding",
) -> list:
    """Train an m-subspace product-quantization codebook (Jegou et al.
    2011): split the d-dim embedding into m contiguous d/m-dim
    subvectors and fit an independent k-center quantizer per subspace,
    all m from one bounded sample in one Spark job (_fit_quantizers —
    only the m*k*(d/m) centroid floats reach the driver).

    Returns ``codebook`` as nested Python lists [m][k][d/m] — small
    enough to ride a UDF closure or plan literal. Storage story at 100 TB:
    float32 64-dim vectors (256 B) compress to m=8 one-byte codes
    (32x); ADC search then costs m table lookups per pair instead of d
    multiplies. The quantizers needn't converge: bounded Lloyd rounds
    change cost, not recall truth on planted twins — identical vectors
    encode identically under ANY codebook.
    """
    return _fit_quantizers(vectors, emb_col, pq=(m, k))[1]


def _pq_codes(df: DataFrame, emb_col: str, codebook: list) -> DataFrame:
    """``df`` + ``codes`` (array<int>): per subspace, the nearest of the
    k centroids (_nearest, one GEMM per batch and subspace)."""
    cb = np.asarray(codebook, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = cb.shape

    def codes(X):
        return np.stack(
            [_nearest(X[:, i * dsub : (i + 1) * dsub], cb[i]) for i in range(m)], 1
        )

    return _append_codes(df, emb_col, "codes", IntegerType(), codes)


def pq_encode(
    vectors: DataFrame,
    codebook: list,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — the compressed corpus representation."""
    vs = vectors.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("c_id"), F.col(emb_col).alias("_e")
    )
    return _pq_codes(vs, "_e", codebook).select("c_id", "codes")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list,
    k: int = 3,
    shortlist: int = 32,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate top-k with exact rerank — deployment shape:

    1. corpus -> codes (pq_encode, m ints per vector);
    2. per QUERY, one native HOF pass builds the m x k ADC distance
       table T[mi][j] = ||q_sub(mi) - codebook[mi][j]||^2 (O(k*d) per
       query, ONCE — that is the asymmetric-distance trick);
    3. the code scan evaluates sum_mi T[mi][codes[mi]] per candidate —
       m array lookups instead of d multiplies, over 32x less data when
       codes are stored; keep the ``shortlist`` best per query
       (labeled brute-force over CODES: at scale this crossJoin is
       scoped by composing with the IVF cell join — probe cells first,
       ADC-scan only their lists, exactly the IVF-PQ layout);
    4. exact cosine rerank of the shortlist against raw embeddings.

    Planted-twin determinism (the ann_ivf_recall argument, one step
    further): an identical vector's codes are the per-subspace argmins
    for the query itself, so its ADC distance is the GLOBAL minimum any
    candidate can achieve — it makes every shortlist >= 1 whatever the
    codebook, and the exact rerank puts it at rank 1."""
    # the ADC table/sum and exact-rerank tail are the SHARED helpers
    # below (_adc_expr/_pq_rerank) — one construction for both pq_topk
    # and ivf_pq_topk so the twins cannot drift (round-7 review fix:
    # this function originally inlined verbatim copies)
    table, adc = _adc_expr(codebook)
    qs = (
        queries.filter(F.col(emb_col).isNotNull())
        .select(
            F.col(id_col).alias("q_id"),
            F.col(emb_col).alias("q_emb"),
            F.sqrt(_dot(emb_col, emb_col)).alias("_qn"),
        )
        .withColumn("_t", table)
    )
    codes = pq_encode(corpus, codebook, id_col, emb_col)
    ws = Window.partitionBy("q_id").orderBy(F.asc("_adc"), F.asc("c_id"))
    short = (
        codes.crossJoin(F.broadcast(qs))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("_adc", adc)
        .withColumn("_sr", F.row_number().over(ws))
        .filter(F.col("_sr") <= shortlist)
        .select("q_id", "q_emb", "_qn", "c_id")
    )
    return _pq_rerank(short, corpus, k, id_col, emb_col)


def _adc_expr(codebook: list) -> "tuple[Column, Column]":
    """(per-query ADC table over ``q_emb``, per-pair ADC sum over
    ``codes`` + ``_t``) — the two native HOF expressions pq_topk and
    ivf_pq_topk share (one construction so the twins cannot drift)."""
    m = len(codebook)
    dsub = len(codebook[0][0])
    cb_lit = F.lit(codebook)
    table = F.transform(
        cb_lit,
        lambda sub, mi: F.transform(
            sub,
            lambda ctr: F.aggregate(
                F.zip_with(
                    F.slice(F.col("q_emb"), mi * F.lit(dsub) + 1, dsub),
                    ctr,
                    lambda x, y: (x.cast("double") - y) ** 2,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, i: F.element_at(
                F.element_at(F.col("_t"), i + 1), c + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return table, adc


def _pq_rerank(
    short: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """Exact cosine rerank of an ADC shortlist (q_id, q_emb, _qn, c_id)
    against raw corpus embeddings — shared pq/ivf-pq tail."""
    cand = corpus.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("c_emb"),
        F.sqrt(_dot(emb_col, emb_col)).alias("_cn"),
    )
    return _cosine_rank(F.broadcast(short).join(cand, "c_id"), k)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebook: "list | None" = None,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    kc: int = 16,
    shortlist: int = 32,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production ANN serving layout (Jegou et al. 2011,
    the FAISS IVFPQ shape): a coarse n_cells quantizer scopes the scan
    (equi-join on the int cell id — the crossJoin in plain pq_topk never
    materializes), PQ codes make the scan inside each probed cell m
    lookups per pair over 32x-compressed rows, exact cosine reranks the
    shortlist. Per-probe cost: n_probe/n_cells of the corpus at m
    lookups/row — the knob pair that holds latency flat while the corpus
    grows 100x.

    Codes are PQ over RAW vectors (not residuals): the planted-twin
    determinism argument then carries verbatim — an identical vector
    lands in the identical cell AND its codes are the per-subspace
    argmins for the query, so it survives both the probe and the ADC
    shortlist under ANY quantizer, and exact rerank pins rank 1. Without
    a ``codebook``, the coarse and PQ quantizers come from one sample fit."""
    centers, fitted = _fit_quantizers(
        vectors, emb_col, n_cells=n_cells, pq=None if codebook else (m, kc)
    )
    codebook = codebook or fitted
    codes = _pq_codes(
        _assign(vectors, centers, id_col, emb_col), "c_emb", codebook
    ).select("c_id", "cell", "codes")
    table, adc = _adc_expr(codebook)
    qs = _probe(
        queries.filter(F.col(emb_col).isNotNull())
        .select(
            F.col(id_col).alias("q_id"),
            F.col(emb_col).alias("q_emb"),
            F.sqrt(_dot(emb_col, emb_col)).alias("_qn"),
        )
        .withColumn("_t", table),
        _centroid_table(vectors.sparkSession, centers),
        n_probe,
    )
    ws = Window.partitionBy("q_id").orderBy(F.asc("_adc"), F.asc("c_id"))
    short = (
        qs.join(codes, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("_adc", adc)
        .withColumn("_sr", F.row_number().over(ws))
        .filter(F.col("_sr") <= shortlist)
        .select("q_id", "q_emb", "_qn", "c_id")
    )
    return _pq_rerank(short, vectors, k, id_col, emb_col)
