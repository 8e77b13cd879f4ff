"""Similarity operators: ANN recall vs brute force, the quantizer core
(sample fit, nearest-centroid assignment), PQ, SemDeDup, and edge cases
(null and zero-norm vectors, empty corpora) — plus multimodal plumbing."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    semantic_dedup,
)
from harvester_fgp_spark.sources.tables import DEFAULT_SF_DIR
from tests.conftest import count_jobs

SF01_EMBEDDINGS = f"{os.path.dirname(DEFAULT_SF_DIR)}/sf0.01/embeddings.parquet"


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(
        qs.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")),
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        k=5,
    )
    approx = ann_lsh_topk(emb, qs, k=5)
    exact_pairs = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_pairs = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # random gaussian vectors are the worst case for LSH; demand a floor
    # that proves the bucketing works at all, not production recall
    assert recall >= 0.25, f"LSH recall {recall:.2f} too low"
    # every approx hit must be a real vector pair ranked by true cosine
    assert all(q != c for q, c in approx_pairs)


def test_media_meta_plumbing(spark, sf_dir):
    from harvester_fgp_spark.operators.multimodal import extract_media_meta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("image/fake").alias("mime"),
    )
    meta = extract_media_meta(media)
    rows = meta.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.n_bytes is not None and r.sha is not None
        assert 1 <= r.width <= 1920 and 1 <= r.height <= 1080


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(
        qs.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")),
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        k=5,
    )
    approx = ann_ivf_topk(emb, qs, k=5, n_cells=8, n_probe=4)
    exact_pairs = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_pairs = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing half the cells on random gaussians should beat plain LSH
    assert recall >= 0.4, f"IVF recall {recall:.2f} too low"
    # full probe == exact (the IVF correctness identity)
    full = ann_ivf_topk(emb, qs, k=5, n_cells=8, n_probe=8)
    full_pairs = {(r.q_id, r.c_id) for r in full.collect()}
    assert full_pairs == exact_pairs


def test_ivf_index_persist_query_parity(spark, tmp_path):
    """build_ivf_index + query_ivf_index == the in-memory ann_ivf_topk
    (same corpus, same quantizer seed): the persisted layout is a pure
    re-expression, not a different index."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
        query_ivf_index,
    )

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(300, dtype="int64"),
            "embedding": [v.tolist() for v in vecs],
        }
    )
    corpus = spark.createDataFrame(pdf)
    qs = corpus.filter(F.col("vec_id") % 10 == 0)

    direct = (
        ann_ivf_topk(corpus, qs, k=3, n_cells=8, n_probe=3)
        .toPandas()
        .sort_values(["q_id", "rank"], ignore_index=True)
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, n_cells=8)
    via_index = (
        query_ivf_index(spark, path, qs, k=3, n_probe=3)
        .toPandas()
        .sort_values(["q_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        direct, via_index.astype(direct.dtypes.to_dict())
    )
    # the on-disk layout IS the index: inverted lists are cell-partitioned
    import os

    parts = [d for d in os.listdir(f"{path}/lists") if d.startswith("cell=")]
    assert len(parts) == 8


def test_cosine_topk_drops_null_query_ids(spark):
    """A null query id matches nothing (the crossJoin plan's
    ``q_id != c_id`` was null for it); the cogrouped kernel must not give
    it a top-k."""
    qs = spark.createDataFrame(
        [(None, [1.0, 0.0]), (1, [0.0, 1.0])], "q_id long, q_emb array<float>"
    )
    cands = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.1, 1.0]), (12, [1.0, 1.0])],
        "c_id long, c_emb array<float>",
    )
    got = cosine_topk(qs, cands, k=2).collect()
    assert {(r.q_id, r.c_id) for r in got} == {(1, 11), (1, 12)}


# --- zero-norm vectors ------------------------------------------------------
# A zero-norm vector has no cosine: every operator gives it a null cosine
# (or projection bucket) and it drops out, the same as a brute-force theta
# join whose cosine is try_divide(dot, |a||b|). Spark 4's default ANSI mode
# raised DIVIDE_BY_ZERO on the plain division instead.

_ZERO_IDS = {100, 101}


def _zero_norm_corpus(spark):
    import numpy as np

    rng = np.random.default_rng(31)
    base = rng.normal(size=(30, 64)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [(i + 30, base[i].tolist()) for i in range(10)]  # planted twins
    rows += [(i, [0.0] * 64) for i in sorted(_ZERO_IDS)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _twin_pairs(corpus, threshold):
    """Brute-force theta join in numpy: cos = dot / (|a||b|), null (never
    qualifying) when the divisor is zero."""
    import numpy as np

    rows = sorted(corpus.collect())
    out = set()
    for i, (ia, ea) in enumerate(rows):
        a = np.asarray(ea, dtype=np.float64)
        for ib, eb in rows[i + 1 :]:
            b = np.asarray(eb, dtype=np.float64)
            den = np.sqrt(a @ a) * np.sqrt(b @ b)
            if den != 0 and (a @ b) / den >= threshold:
                out.add((ia, ib))
    return out


def _pairs_cosine_sim_col(corpus, threshold):
    from harvester_fgp_spark.operators.similarity import cosine_sim_col

    a = corpus.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = corpus.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .filter(cosine_sim_col("ea", "eb") >= threshold)
        .select("ia", "ib")
    )


def _pairs_exact_near_dup(corpus, threshold):
    from harvester_fgp_spark.operators.similarity import exact_near_dup_pairs

    return exact_near_dup_pairs(corpus, threshold).select("ia", "ib")


def _pairs_semantic_dedup(corpus, threshold):
    from harvester_fgp_spark.operators.similarity import semantic_dedup

    # at threshold ~1 each planted twin is its own pair: (kept, dropped)
    return semantic_dedup(corpus, n_cells=4, threshold=threshold).select(
        "kept_id", "dropped_id"
    )


@pytest.mark.parametrize(
    "pairs", [_pairs_cosine_sim_col, _pairs_exact_near_dup, _pairs_semantic_dedup]
)
def test_zero_norm_pairs_match_try_divide_twin(spark, pairs):
    corpus = _zero_norm_corpus(spark)
    got = {tuple(r) for r in pairs(corpus, 0.9999).collect()}
    assert got == _twin_pairs(corpus, 0.9999) == {(i, i + 30) for i in range(10)}


def _topk_cosine(corpus, qs):
    q = qs.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    c = corpus.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    return cosine_topk(q, c, k=3)


def _topk_lsh(corpus, qs):
    return ann_lsh_topk(corpus, qs, k=3)


def _topk_ivf(corpus, qs):
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    return ann_ivf_topk(corpus, qs, k=3, n_cells=4, n_probe=4)


def _topk_pq(corpus, qs):
    from harvester_fgp_spark.operators.similarity import pq_topk, pq_train

    return pq_topk(corpus, qs, pq_train(corpus, m=2, k=4), k=3)


def _topk_ivf_pq(corpus, qs):
    from harvester_fgp_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(corpus, qs, k=3, n_cells=4, n_probe=4, m=2, kc=4)


@pytest.mark.parametrize(
    "topk", [_topk_cosine, _topk_lsh, _topk_ivf, _topk_pq, _topk_ivf_pq]
)
def test_zero_norm_vectors_drop_out_of_topk(spark, topk):
    corpus = _zero_norm_corpus(spark)
    qs = corpus.filter((F.col("vec_id") < 10) | (F.col("vec_id") == 100))
    rows = topk(corpus, qs).collect()
    assert all(r.cos_sim is not None for r in rows)
    assert not {r.q_id for r in rows} & _ZERO_IDS
    assert not {r.c_id for r in rows} & _ZERO_IDS
    # planted twins collide everywhere: each real query's rank 1 is its twin
    assert {r.q_id: r.c_id for r in rows if r.rank == 1} == {
        i: i + 30 for i in range(10)
    }


# --- IVF and PQ recall ------------------------------------------------------


def test_ivf_recall_under_drift(spark, sf_dir):
    """Plant epsilon-perturbed near-duplicates (vec_id + 10000) and query
    with them: the true nearest neighbor of every planted vector is its
    origin, but the perturbation can push a query across a k-means cell
    boundary away from that origin. Single-probe loses those pairs;
    n_probe=4 must recover them (floor), and probing every cell is the
    exact identity. The identical-vector planted tier (ann_ivf_recall,
    driver-gated) is centroid-invariant by construction and cannot see
    this failure mode.

    Measured on this fixture (seed 123, eps=0.05): recall@1 = 0.924 at
    n_probe=1 (38 of 500 drifted queries land across a boundary), 0.97
    at 2, 0.998 at 4, 1.0 at full probe — multi-probe is what survives
    quantization-boundary splits."""
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = emb.select("vec_id", "embedding").toPandas()
    rng = np.random.default_rng(123)
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    # the fixture vectors are UNIT-NORM 64-dim; a per-component drift of
    # eps=0.05 has norm ~0.05*sqrt(64)=0.4, so cos(origin, query)
    # ~ 1/sqrt(1+0.4^2) ~ 0.93 — far above the measured max cosine
    # between distinct fixture vectors (0.479), so the origin stays the
    # unambiguous exact top-1, while a 0.4 displacement on the unit
    # sphere is large enough that some queries land in a different
    # k-means Voronoi cell than their origin
    drifted = mat + 0.05 * rng.standard_normal(mat.shape)
    planted = [
        (int(v) + 10_000, [float(x) for x in row])
        for v, row in zip(pdf["vec_id"], drifted)
    ]
    queries = spark.createDataFrame(
        planted, "vec_id long, embedding array<float>"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(queries)

    def recall_at(n_probe):
        top1 = ann_ivf_topk(
            corpus, queries, k=1, n_cells=16, n_probe=n_probe
        ).collect()
        hits = sum(1 for r in top1 if r.c_id == r.q_id - 10_000)
        return hits / len(planted)

    r1, r4, r_full = recall_at(1), recall_at(4), recall_at(16)
    # multi-probe must not lose pairs single-probe found, and must clear
    # a floor single-probe is NOT asserted to clear
    assert r4 >= r1, (r1, r4)
    assert r4 >= 0.95, f"n_probe=4 drift recall {r4:.3f} < 0.95 (r1={r1:.3f})"
    assert r_full == 1.0, f"full probe must be exact, got {r_full:.3f}"


def test_pq_codes_shape_and_twin_identity(spark):
    """PQ encoder invariants: m codes per vector, every code < k, and
    identical vectors encode identically under ANY codebook (the
    centroid-invariance the gate oracle leans on)."""
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(SF01_EMBEDDINGS)
    cb = pq_train(emb, m=8, k=16)
    assert len(cb) == 8 and all(len(sub) == 16 for sub in cb)
    both = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 10000)
    )
    codes = pq_encode(both, cb).toPandas()
    assert (codes.codes.str.len() == 8).all()
    assert codes.codes.map(max).max() < 16
    by_id = dict(zip(codes.c_id, codes.codes.map(tuple)))
    for vid in list(by_id):
        if vid < 10000:
            assert by_id[vid] == by_id[vid + 10000]


def test_pq_drift_recall(spark):
    """Perturbed-query tier (the IVF drift test applied to PQ): eps-noised
    copies must still retrieve their origin at rank 1 through the ADC
    shortlist + exact rerank — codes may shift at quantization
    boundaries, but the 32-deep shortlist + rerank absorbs it."""
    import pandas as pd
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import pq_topk, pq_train

    emb = spark.read.parquet(SF01_EMBEDDINGS)
    pdf = emb.orderBy("vec_id").limit(20).toPandas()
    rng = np.random.default_rng(3)
    noised = [
        (int(r.vec_id) + 50000,
         (np.array(r.embedding) + rng.normal(scale=1e-3, size=64))
         .astype("float32").tolist())
        for r in pdf.itertuples()
    ]
    queries = spark.createDataFrame(
        pd.DataFrame(noised, columns=["vec_id", "embedding"])
    )
    cb = pq_train(emb, m=8, k=16)
    top1 = (
        pq_topk(emb, queries, cb, k=1)
        .filter(F.col("rank") == 1)
        .toPandas()
    )
    hits = (top1.c_id == top1.q_id - 50000).mean()
    assert hits >= 0.95, hits


def test_ivf_pq_drift_recall(spark):
    """IVF-PQ under eps-drift: the noised query must survive BOTH the
    coarse probe (n_probe=4 of 16 cells) and the ADC shortlist, then
    rerank to its origin — the composition can only lose recall at the
    probe, and 1e-3 noise doesn't move a vector across 4 probed cells."""
    import pandas as pd
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(SF01_EMBEDDINGS)
    pdf = emb.orderBy("vec_id").limit(20).toPandas()
    rng = np.random.default_rng(5)
    noised = [
        (int(r.vec_id) + 50000,
         (np.array(r.embedding) + rng.normal(scale=1e-3, size=64))
         .astype("float32").tolist())
        for r in pdf.itertuples()
    ]
    queries = spark.createDataFrame(
        pd.DataFrame(noised, columns=["vec_id", "embedding"])
    )
    top1 = (
        ivf_pq_topk(emb, queries, k=1)
        .filter(F.col("rank") == 1)
        .toPandas()
    )
    hits = (top1.c_id == top1.q_id - 50000).mean()
    assert hits >= 0.95, hits


def test_semantic_dedup_auto_k_planted(spark):
    """Auto-sized quantizer (n_cells=None, VERDICT r6 next-#5): planted
    exact twins are still dropped exactly — the dedup output at
    threshold ~1.0 is k-invariant, so auto-k changes cost, not truth."""
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(SF01_EMBEDDINGS)
    planted = emb.filter(F.col("vec_id") % 4 == 0).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    out = (
        semantic_dedup(emb.unionByName(planted), threshold=0.9999)
        .toPandas()
        .sort_values("dropped_id", ignore_index=True)
    )
    exp = sorted(
        r.vec_id + 10000
        for r in emb.filter(F.col("vec_id") % 4 == 0).collect()
    )
    assert out.dropped_id.tolist() == exp
    assert (out.kept_id == out.dropped_id - 10000).all()


def test_semantic_dedup_auto_k_sizing():
    from harvester_fgp_spark.operators.similarity import (
        MAX_AUTO_CELLS,
        _auto_n_cells,
    )

    assert _auto_n_cells(0) == 1  # degenerate corpus: k can't exceed n
    assert _auto_n_cells(3) == 3
    assert _auto_n_cells(100) == 10
    assert _auto_n_cells(625) == 25
    assert _auto_n_cells(1_000_000) == 1000
    assert _auto_n_cells(10**12) == MAX_AUTO_CELLS


# --- SemDeDup ---------------------------------------------------------------


def _emb_frame(spark, n=80, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [v.tolist() for v in vecs],
        }
    )
    return spark.createDataFrame(pdf), vecs


def test_semantic_dedup_planted_exact(spark):
    base, _ = _emb_frame(spark)
    planted = base.filter(F.col("vec_id") % 4 == 0).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    out = (
        semantic_dedup(base.unionByName(planted), n_cells=4, threshold=0.9999)
        .toPandas()
        .sort_values("dropped_id", ignore_index=True)
    )
    exp_dropped = [i + 10000 for i in range(0, 80, 4)]
    assert out.dropped_id.tolist() == exp_dropped
    assert (out.kept_id == out.dropped_id - 10000).all()


def test_semantic_dedup_near_dup_tier(spark):
    # lower threshold: eps-perturbed copies must still be dropped
    base, vecs = _emb_frame(spark)
    rng = np.random.default_rng(9)
    pert = vecs[:20] + rng.normal(scale=1e-3, size=(20, vecs.shape[1])).astype(
        "float32"
    )
    near = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(20000, 20020, dtype="int64"),
                "embedding": [v.tolist() for v in pert],
            }
        )
    )
    out = semantic_dedup(
        base.unionByName(near), n_cells=4, threshold=0.99
    ).toPandas()
    dropped = set(out.dropped_id.tolist())
    assert set(range(20000, 20020)) <= dropped


# --- the quantizer core: one sample fit, one assignment ---------------------


def test_nearest_blocks_match_brute_force(monkeypatch):
    """_nearest's row blocks (here one row each) give the brute-force
    argmin of the squared L2 distance."""
    from harvester_fgp_spark.operators import similarity as S

    rng = np.random.default_rng(4)
    X, C = rng.normal(size=(50, 6)), rng.normal(size=(5, 6))
    monkeypatch.setattr(S, "_NEAREST_BLOCK", 5)
    brute = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert S._nearest(X, C).tolist() == brute.tolist()


def _small_corpus(spark, with_null=False):
    """40 gaussian 16-dim vectors, twins of the first 8 at +100, and
    optionally one null embedding (vec_id 999, a query too)."""
    rng = np.random.default_rng(17)
    base = rng.normal(size=(40, 16)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [(i + 100, base[i].tolist()) for i in range(8)]
    if with_null:
        rows.append((999, None))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(corpus):
    return corpus.filter(F.col("vec_id") % 3 == 0)


def _rows_ivf(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    return ann_ivf_topk(corpus, _queries(corpus), k=3, n_cells=4, n_probe=2)


def _rows_ivf_index(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, n_cells=4)
    return query_ivf_index(
        corpus.sparkSession, path, _queries(corpus), k=3, n_probe=2
    )


def _rows_pq(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import pq_topk, pq_train

    return pq_topk(corpus, _queries(corpus), pq_train(corpus, m=2, k=4), k=3)


def _rows_ivf_pq(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        corpus, _queries(corpus), k=3, n_cells=4, n_probe=2, m=2, kc=4
    )


def _rows_semantic_dedup(corpus, tmp_path):
    return semantic_dedup(corpus, n_cells=4, threshold=0.9999)


@pytest.mark.parametrize(
    "rows",
    [_rows_ivf, _rows_ivf_index, _rows_pq, _rows_ivf_pq, _rows_semantic_dedup],
)
def test_null_embedding_drops_out(spark, tmp_path, rows):
    """A null embedding is no vector: adding one (to the corpus and the
    queries) leaves every quantizer operator's output unchanged, as in
    LSH. IVF used to raise a NullPointerException in Spark ML's
    array_to_vector."""
    clean = rows(_small_corpus(spark), tmp_path / "a").collect()
    dirty = rows(_small_corpus(spark, True), tmp_path / "b").collect()
    assert sorted(dirty) == sorted(clean)
    assert clean


def _fit_pq_train(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import pq_train

    return pq_train(corpus)


def _fit_ivf(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    return ann_ivf_topk(corpus, corpus, k=3)


def _fit_ivf_index(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import build_ivf_index

    return build_ivf_index(corpus, str(tmp_path / "ivf"))


def _fit_ivf_pq(corpus, tmp_path):
    from harvester_fgp_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(corpus, corpus)


def _fit_semantic_dedup(corpus, tmp_path):
    return semantic_dedup(corpus, n_cells=8)


def _fit_semantic_dedup_auto_k(corpus, tmp_path):
    return semantic_dedup(corpus)


@pytest.mark.parametrize(
    "fit",
    [
        _fit_pq_train,
        _fit_ivf,
        _fit_ivf_index,
        _fit_ivf_pq,
        _fit_semantic_dedup,
        _fit_semantic_dedup_auto_k,
    ],
)
def test_quantizer_fit_empty_corpus_raises(spark, tmp_path, fit):
    """Every fitting operator refuses a corpus without a single non-null
    embedding with one clear error, not an opaque JVM one."""
    schema = "vec_id long, embedding array<float>"
    for rows in ([], [(1, None)]):
        corpus = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="no non-null embeddings"):
            fit(corpus, tmp_path)


def test_more_cells_than_vectors(spark):
    """k larger than the row count still fits: 3 vectors, 8 cells."""
    from harvester_fgp_spark.operators.similarity import ann_ivf_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = semantic_dedup(corpus, n_cells=8).collect()
    assert [tuple(r) for r in got] == [(3, 1)]
    top1 = ann_ivf_topk(corpus, corpus, k=1, n_cells=8, n_probe=8).collect()
    assert {(r.q_id, r.c_id) for r in top1} == {(1, 3), (3, 1), (2, 1)}


@pytest.mark.parametrize(
    "name, bound",
    [("pq_train", 1), ("ann_ivf_topk", 2), ("semantic_dedup", 3)],
)
def test_quantizer_build_jobs(spark, sf_dir, name, bound):
    """Building each operator runs at most ``bound`` eager Spark jobs: one
    sample fit, plus semantic_dedup's localCheckpoint. (Spark ML's KMeans
    ran a job per iteration: 153 for pq_train, 13 for semantic_dedup.)"""
    from harvester_fgp_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    build = {
        "pq_train": lambda: S.pq_train(emb, m=8, k=16),
        "ann_ivf_topk": lambda: S.ann_ivf_topk(emb, emb.limit(5), k=3),
        "semantic_dedup": lambda: S.semantic_dedup(emb, n_cells=8),
    }[name]
    assert 1 <= count_jobs(spark, build) <= bound
