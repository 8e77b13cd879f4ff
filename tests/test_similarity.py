"""ANN-LSH recall vs brute force + multimodal plumbing checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.operators.similarity import ann_lsh_topk, cosine_topk


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
