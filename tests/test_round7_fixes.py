"""Round-7 fixes: ADVICE items + VERDICT r6 next-round tasks.

- semantic_dedup fixture guard: the driver-gate oracle for
  `semantic_dedup` is an exact-equality self-join, which is only a
  faithful twin while NO non-identical pair in the embeddings fixture
  reaches the 0.9999 cosine threshold. Pin that property here so a
  fixture regeneration fails loudly in CI, not at the driver gate
  (ADVICE r6 #3).
- stats_moments zero-variance guard: n<=1 / constant groups must yield
  NULL on both engines (ADVICE r6 #2).
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

SEMANTIC_DEDUP_THRESHOLD = 0.9999  # __spark_entry__._q_semantic_dedup


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embeddings_fixture_has_no_natural_near_twins(sf_dir):
    """Max cosine between NON-identical fixture vectors stays safely
    below the semantic_dedup gate threshold — the planted +10000 copies
    are the ONLY pairs that can qualify, which is what makes the
    equality self-join oracle exact. Guards fixture regeneration."""
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    v = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    # collapse exact-identical rows first: the remaining pairwise max is
    # the largest cosine any non-identical pair can achieve
    uniq = np.unique(v, axis=0)
    n = uniq / np.linalg.norm(uniq, axis=1, keepdims=True)
    g = n @ n.T
    np.fill_diagonal(g, -1.0)
    max_cos = float(g.max())
    # margin: the operator compares unrounded cosine >= threshold; keep
    # 1e-3 of headroom so float noise can't creep over the line
    assert max_cos < SEMANTIC_DEDUP_THRESHOLD - 1e-3, (
        f"{sf_dir}: non-identical pair at cos={max_cos:.6f} would break "
        "the equality-join oracle for semantic_dedup"
    )


def test_compact_records_hilbert_clustering(spark, tmp_path):
    """cluster='hilbert' (round 7): same rows, same schema (the sort key
    is an expression, never a column), and within every compacted file
    the records are non-decreasing in their level-8 Hilbert id — the
    clustering bench_hilbert_scan.py showed prunes bbox range scans
    better than Morton."""
    import glob
    import os

    from harvester_fgp_spark.plans.pipeline import mine_records
    from harvester_fgp_spark.sinks import checkpoint as C
    from harvester_fgp_spark.synth import generate_polygons, pages_df

    out = str(tmp_path / "records")
    cp = str(tmp_path / "checkpoint")
    records = C.with_tile_id(
        mine_records(spark, pages_df(spark, 800, seed=42),
                     generate_polygons(60, seed=42))
    )
    C.write_records_and_checkpoint(
        records.repartition(16), out, cp, run_id="run1"
    )
    before = spark.read.parquet(out)
    before_rows = before.count()
    before_cols = before.columns
    C.compact_records(spark, out, target_rows_per_file=50, cluster="hilbert")
    after = spark.read.parquet(out)
    assert after.count() == before_rows
    assert sorted(after.columns) == sorted(before_cols)
    # monotonicity via the numpy twin (bit-exact parity with the Spark
    # sort expression is pinned by test_hilbert_range) — per-file Spark
    # jobs here took minutes; pyarrow reads take milliseconds
    from harvester_fgp_spark.geo import cells as _cells
    from harvester_fgp_spark.operators.geo import _hilbert_ids_np

    def _file_hids(path):
        t = pq.read_table(
            path, columns=["lat", "lon", "west", "east", "south", "north"]
        ).to_pandas()
        lat = t.lat.to_numpy(dtype=float)
        lon = t.lon.to_numpy(dtype=float)
        s, n = t.south.to_numpy(float), t.north.to_numpy(float)
        w, e = t.west.to_numpy(float), t.east.to_numpy(float)
        lat = np.where(np.isnan(lat), (s + n) / 2.0, lat)
        raw = (w + e) / 2.0
        m = raw + 180.0
        m = np.where(m > 180.0, m - 360.0, m)
        lon = np.where(np.isnan(lon), np.where(w <= e, raw, m), lon)
        x, y = _cells.lonlat_to_xy(lon, lat, 8)
        return _hilbert_ids_np(x, y, 8)

    files = [
        f
        for f in glob.glob(os.path.join(out, "tile_id=*", "*.parquet"))
        if os.path.getsize(f) > 0
    ]
    checked = 0
    for f in files:
        hids = _file_hids(f)
        if len(hids) < 2:
            continue
        assert (np.diff(hids) >= 0).all(), f
        checked += 1
    assert checked > 3
    with pytest.raises(ValueError):
        C.compact_records(spark, out, cluster="zorder-nope")


def test_hilbert_range_scan_coalesced_requires_residual(spark):
    """Round-7 review fix: a coalesced cover over-reads by construction,
    so max_ranges without lon/lat residual columns must refuse loudly
    instead of silently returning out-of-bbox rows."""
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators import geo as G

    df = spark.range(10).select(F.col("id").alias("hid"))
    with pytest.raises(ValueError, match="residual"):
        G.hilbert_range_scan(
            df, -30, 10, 40, 55, level=6, id_col="hid", max_ranges=4
        )


def test_pq_train_empty_corpus_raises(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from harvester_fgp_spark.operators.similarity import pq_train

    empty = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        ),
    )
    with pytest.raises(ValueError, match="no non-null embeddings"):
        pq_train(empty)


def test_pq_codes_shape_and_twin_identity(spark):
    """PQ encoder invariants: m codes per vector, every code < k, and
    identical vectors encode identically under ANY codebook (the
    centroid-invariance the gate oracle leans on)."""
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
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

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
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

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
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

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
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


def test_minhash_incremental_degenerate_bucket_guard(spark, tmp_path):
    """Thousands of near-empty docs (one shared word -> one shared gram
    -> identical signature -> ONE bucket per band) complete with bounded
    member arrays: the size screen runs before collect_list, the
    exclusion is warned loudly, and real cross-batch dup pairs are still
    reported exactly (VERDICT r6 next-#6)."""
    import warnings

    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.dedup import (
        minhash_incremental_pairs,
        update_minhash_store,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    degenerate = spark.range(3000).select(
        (F.col("id") + 500_000).alias("doc_id"), F.lit("x").alias("text")
    )
    batch1 = docs.filter(F.col("doc_id") < 20)
    batch2 = (
        docs.filter(F.col("doc_id") >= 20)
        # planted cross-batch dups: copies of batch-1 docs
        .unionByName(
            docs.filter(F.col("doc_id") % 3 == 0).withColumn(
                "doc_id", F.col("doc_id") + 20000
            )
        )
        .unionByName(degenerate)
    )
    union = batch1.unionByName(batch2)

    store = str(tmp_path / "sigstore")
    update_minhash_store(batch1, store)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = minhash_incremental_pairs(
            batch2, store, union, threshold=0.9, max_bucket_size=100
        ).toPandas()
    msgs = [str(w.message) for w in caught if "EXCLUDED" in str(w.message)]
    assert msgs, "degenerate-bucket exclusion must warn loudly"
    assert "3000 members" in msgs[0]
    # the planted cross-batch dups all survive the guard
    planted = {
        (int(r.doc_id), int(r.doc_id) + 20000)
        for r in docs.filter(
            (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 20)
        ).collect()
    }
    pairs = set(map(tuple, got[["id_a", "id_b"]].values.tolist()))
    assert planted <= pairs and len(planted) > 0
    # no pair touches a degenerate id (the documented exclusion)
    assert all(a < 500_000 and b < 500_000 for a, b in pairs)


def test_stats_moments_zero_variance_guard(spark):
    """A 1-row group and a constant-value group yield NULL var/corr on
    the Spark side (mirrored as CASE WHEN in the DuckDB twin) instead
    of a div-by-zero NULL-vs-inf engine divergence."""
    import pandas as pd

    import __spark_entry__ as E

    pdf = pd.DataFrame(
        {
            "event_type": ["solo", "const", "const", "ok", "ok", "ok"],
            "value": [1.25, 2.0, 2.0, 1.0, 2.0, 3.0],
            "user_id": [7, 5, 5, 1, 2, 3],
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # write a minimal events.parquet so _q_stats_moments's reader
        # sees the same path layout as the fixture dirs
        import pyarrow as pa

        pq.write_table(pa.Table.from_pandas(pdf), f"{d}/events.parquet")
        out = {
            r["event_type"]: r
            for r in E.queries()["stats_moments"](spark, d).collect()
        }
    assert out["solo"]["var_cents2"] is None
    assert out["solo"]["corr_value_uid"] is None
    # constant value => vx == 0 => corr NULL (var is 0, defined)
    assert out["const"]["var_cents2"] == 0.0
    assert out["const"]["corr_value_uid"] is None
    assert out["ok"]["var_cents2"] is not None
    assert out["ok"]["corr_value_uid"] is not None


def test_minhash_store_version_guard(spark, tmp_path):
    """Round-8 (ADVICE r7): a band store stamped by a different
    signature kernel must be refused loudly — cross-era band hashes
    never collide, so mixing eras silently misses every cross-era
    duplicate."""
    import pytest

    from harvester_fgp_spark.operators.dedup import (
        BAND_KERNEL_VERSION,
        minhash_incremental_pairs,
        update_minhash_store,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(10)], "doc_id long, text string"
    )
    store = str(tmp_path / "bands")
    update_minhash_store(docs, store)
    # happy path: marker written, incremental accepts the store
    minhash_incremental_pairs(docs, store, docs).collect()
    # cross-era store: overwrite the marker with a foreign version
    spark.createDataFrame(
        [(BAND_KERNEL_VERSION + 1,)], "kernel_version int"
    ).write.mode("overwrite").parquet(f"{store}/_kernel_version")
    with pytest.raises(ValueError, match="signature-kernel"):
        minhash_incremental_pairs(docs, store, docs)
    with pytest.raises(ValueError, match="signature-kernel"):
        update_minhash_store(docs, store)
    # pre-marker store (no sidecar at all) is also refused
    import shutil

    shutil.rmtree(f"{store}/_kernel_version")
    with pytest.raises(ValueError, match="signature-kernel"):
        minhash_incremental_pairs(docs, store, docs)
