"""Arrow batch edge cases for the ``mapInArrow`` kernels.

Zero-row batches: a zero-length string array may carry no offsets
buffer at all (Arrow allows it for length 0), so every kernel that reads
string buffers must treat it as an empty batch, not call
``np.frombuffer(None)``. All-null and sliced batches: a kernel must not
raise on nulls, and a ``batch.slice(1)`` must give the same rows as the
same data with fresh buffers (``ListArray.values`` ignores a slice's
offset; ``.flatten()`` does not). The kernels are driven directly,
outside Spark, through a stand-in DataFrame that captures the function
handed to ``mapInArrow``."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _no_offsets(typ) -> pa.Array:
    arr = pa.Array.from_buffers(typ, 0, [None, None, pa.py_buffer(b"")])
    assert arr.buffers()[1] is None
    return arr


def _empty_batch(text_type=pa.string()) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), _no_offsets(text_type)], names=["id", "text"]
    )


class _Capture:
    """Stands in for a DataFrame: ``select``, ``filter``, ``withColumn``,
    ``drop`` and ``dropna`` keep (id, text) and ``mapInArrow`` records the
    kernel instead of planning it."""

    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    columns = ["id", "text"]

    def select(self, *cols):
        return self

    def dropna(self, subset):
        return self

    def filter(self, cond):
        return self

    def withColumn(self, name, col):  # noqa: N802 - DataFrame API name
        return self

    def drop(self, *cols):
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802 - DataFrame API name
        self.fn = fn
        return self


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_string_buffers_empty_without_offsets(typ):
    from harvester_fgp_spark.functions.tokens import string_buffers

    offs, data = string_buffers(_no_offsets(typ))
    assert offs.tolist() == [0]
    assert len(data) == 0


@pytest.mark.parametrize("distinct", [True, False])
def test_gram_rows_kernel_zero_row_batch(distinct):
    from harvester_fgp_spark.operators.dedup import _gram_rows_arrow

    kernel = _gram_rows_arrow(_Capture(), 3, "id", "text", distinct).fn
    assert list(kernel(iter([_empty_batch()]))) == []


def test_band_kernel_zero_row_batch():
    from harvester_fgp_spark.operators.dedup import _band_rows_arrow

    batch = _empty_batch()
    assert _band_rows_arrow(batch.column(0), batch.column(1), "id") is None


def test_simhash_kernel_zero_row_batch():
    from harvester_fgp_spark.operators.dedup import _simhash_batches

    out = list(_simhash_batches(iter([_empty_batch()])))
    assert sum(b.num_rows for b in out) == 0


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_verify_kernel_zero_row_batch(typ):
    from harvester_fgp_spark.operators.dedup import _jaccard_batches

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([], pa.int64()),
            pa.array([], pa.int64()),
            _no_offsets(typ),
            _no_offsets(typ),
        ],
        names=["id_a", "id_b", "text_a", "text_b"],
    )
    out = list(_jaccard_batches(iter([batch])))
    assert sum(b.num_rows for b in out) == 0


def test_repetition_kernel_zero_row_batch():
    from harvester_fgp_spark.operators.textops import _repetition_per_doc_arrow

    kernel = _repetition_per_doc_arrow(_Capture(), "id", "text").fn
    out = [b for b in kernel(iter([_empty_batch()])) if b.num_rows]
    assert out == []


@pytest.mark.parametrize("keep_text", [True, False])
def test_fused_pipeline_kernel_zero_row_batch(keep_text):
    from harvester_fgp_spark.operators.geo import build_polygon_index
    from harvester_fgp_spark.plans.pipeline import _fused_mine_match
    from harvester_fgp_spark.synth import generate_polygons

    bidx = SimpleNamespace(value=build_polygon_index(generate_polygons(5, seed=1)))
    kernel = _fused_mine_match(bidx, keep_text=keep_text)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([], pa.string()),
            pa.array([], pa.timestamp("us", tz="UTC")),
            pa.array([], pa.string()),
            _no_offsets(pa.string()),
            pa.array([], pa.binary()),
        ],
        names=["url", "warc_ts", "lang", "text", "html"],
    )
    assert sum(b.num_rows for b in kernel(iter([batch]))) == 0


def test_zero_row_then_rows_keeps_row_count():
    """An empty batch ahead of a real one must not disturb the real
    batch's output (the kernels keep no cross-batch state)."""
    from harvester_fgp_spark.operators.dedup import _gram_rows_arrow

    kernel = _gram_rows_arrow(_Capture(), 2, "id", "text", False).fn
    real = pa.RecordBatch.from_arrays(
        [pa.array([7, 8], pa.int64()), pa.array(["a b c", "d"], pa.string())],
        names=["id", "text"],
    )
    out = list(kernel(iter([_empty_batch(), real])))
    ids = np.concatenate([b.column(0).to_numpy() for b in out])
    assert ids.tolist() == [7, 7]


def _empty_vectors(*names) -> list:
    return [pa.array([], pa.list_(pa.float32())) for _ in names]


@pytest.mark.parametrize("emit_cos", [True, False])
def test_pair_cos_kernel_zero_row_batch(emit_cos):
    from harvester_fgp_spark.operators.similarity import _pair_cos

    batch = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.int64())]
        + _empty_vectors("ea", "eb")
        + [pa.array([], pa.float64()), pa.array([], pa.float64())],
        names=["ia", "ib", "ea", "eb", "na", "nb"],
    )
    out = list(_pair_cos(0.9, emit_cos)(iter([batch])))
    assert sum(b.num_rows for b in out) == 0


@pytest.mark.parametrize("w_bkt", [None, 0.01])
def test_assign_kernel_zero_row_batch(w_bkt):
    """An empty batch ahead of a real one emits nothing, and the real
    batch still gets its nearest cells."""
    from harvester_fgp_spark.operators.similarity import _assign_kernel

    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64())] + _empty_vectors("emb"), names=["id", "emb"]
    )
    real = pa.RecordBatch.from_arrays(
        [
            pa.array([7, 8], pa.int64()),
            pa.array([[0.0, 2.0], [3.0, 0.0]], pa.list_(pa.float32())),
        ],
        names=["id", "emb"],
    )
    kernel = _assign_kernel(np.array([[1.0, 0.0], [0.0, 1.0]]), w_bkt)
    out = list(kernel(iter([empty, real])))
    assert [b.num_rows for b in out] == [2]
    assert out[0].column(3).to_pylist() == [1, 0]


# --- every appending / mapping kernel: zero-row, all-null, sliced ----------

_F32S = pa.list_(pa.float32())
_RING = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))


def _ring(cx):
    return [{"x": cx + dx, "y": dy} for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))]


def _kernel_cases(spark):
    """name -> (kernel, {column: (arrow type, three sample values)}).
    ``spark`` only keeps a session active: the operators build Column
    expressions around the captured kernel."""
    from harvester_fgp_spark.operators import geo as G
    from harvester_fgp_spark.operators import multimodal as M
    from harvester_fgp_spark.operators import similarity as S
    from harvester_fgp_spark.operators import textops as T

    vecs = [[1.0, 0.0, 2.0, 0.5], [0.0, 3.0, 1.0, 1.0], [2.0, 2.0, 0.0, 1.0]]
    blobs = [b"abcdefghij", b"", b"\x00\xff" * 40]
    media = {
        "media_id": (pa.int64(), [1, 2, 3]),
        "payload": (pa.binary(), blobs),
    }
    return {
        "lang_quality": (
            T._with_lang_quality(_Capture(), "text").fn,
            {"id": (pa.int64(), [1, 2, 3]),
             "text": (pa.string(), ["the cat and the dog", "le chat et le", "x"])},
        ),
        "simplify_mask": (
            G.simplify_rings(_Capture(), tol=0.05).fn,
            {"_xs": (pa.list_(pa.float64()),
                     [[0.0, 1.0, 2.0, 0.0], [0.0, 1.0, 2.0, 3.0, 0.0], [5.0, 6.0, 5.0]]),
             "_ys": (pa.list_(pa.float64()),
                     [[0.0, 0.01, 0.0, 0.0], [0.0, 1.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0]])},
        ),
        "polygon_tiles": (
            G.polygon_tiles(_Capture(), z=6).fn,
            {"polygon_id": (pa.string(), ["a", "b", "c"]),
             "ring": (_RING, [_ring(0.0), _ring(30.0), _ring(-60.0)])},
        ),
        "lsh_buckets": (
            S._lsh_buckets(_Capture(), "emb", 4).fn,
            {"id": (pa.int64(), [1, 2, 3]), "emb": (_F32S, vecs)},
        ),
        "pq_codes": (
            S._pq_codes(_Capture(), "emb", [[[0.0, 0.0], [1.0, 1.0]]] * 2).fn,
            {"id": (pa.int64(), [1, 2, 3]), "emb": (_F32S, vecs)},
        ),
        "block_topk": (
            S._block_topk(1, ["q_id", "c_id", "_cos"]),
            {"_qid": (pa.int64(), [7, None, None]),
             "_qe": (_F32S, [vecs[0], None, None]),
             "_cid": (pa.int64(), [None, 8, 9]),
             "_ce": (_F32S, [None, vecs[1], vecs[2]]),
             "_blk": (pa.int32(), [0, 0, 0])},
        ),
        "media_meta": (
            M.extract_media_meta(_Capture()).fn,
            {"media_id": (pa.int64(), [1, 2, 3]),
             "kind": (pa.string(), ["image", "video", "image"]),
             "mime": (pa.string(), ["a", "b", "c"]),
             "payload": (pa.binary(), blobs),
             "n_bytes": (pa.int64(), [len(b) for b in blobs]),
             "sha": (pa.string(), ["s1", "s2", "s3"])},
        ),
        "sample_frames": (M.sample_frames(_Capture()).fn, media),
        "resize_image": (M.resize_image(_Capture(), 16, 16).fn, media),
        "embed_media": (M.embed_media(_Capture(), dim=8).fn, media),
    }


_KERNELS = [
    "lang_quality", "simplify_mask", "polygon_tiles", "lsh_buckets",
    "pq_codes", "block_topk", "media_meta", "sample_frames",
    "resize_image", "embed_media",
]


def _batch(cols: dict, rows=slice(None), nulls: bool = False) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([None] * len(v[rows]) if nulls else v[rows], t)
            for t, v in cols.values()
        ],
        names=list(cols),
    )


def _rows(kernel, batch) -> list:
    return [r for b in kernel(iter([batch])) for r in b.to_pylist()]


@pytest.mark.parametrize("name", _KERNELS)
def test_kernel_zero_row_batch(spark, name):
    kernel, cols = _kernel_cases(spark)[name]
    assert _rows(kernel, _batch(cols, slice(0, 0))) == []


@pytest.mark.parametrize("name", _KERNELS)
def test_kernel_all_null_batch(spark, name):
    """Nulls in every column: no kernel raises; a row-preserving kernel
    keeps every row."""
    kernel, cols = _kernel_cases(spark)[name]
    out = _rows(kernel, _batch(cols, nulls=True))
    if name in ("lang_quality", "simplify_mask", "lsh_buckets", "pq_codes"):
        assert len(out) == 3
        appended = [k for k in out[0] if k not in cols]
        assert appended
        if name != "lang_quality":
            assert all(r[k] is None for r in out for k in appended)


@pytest.mark.parametrize("name", _KERNELS)
def test_kernel_sliced_batch(spark, name):
    """A sliced batch reads the same rows as the same data with fresh
    buffers, and the slice's first row is really skipped."""
    kernel, cols = _kernel_cases(spark)[name]
    full = _batch(cols)
    fresh = _batch(cols, slice(1, None))
    got = _rows(kernel, full.slice(1))
    assert got == _rows(kernel, fresh)
    if name != "block_topk":  # one query row: the slice drops it
        assert got != _rows(kernel, _batch(cols, slice(0, 2)))


def test_lang_quality_kernel_non_ascii_text(spark):
    from harvester_fgp_spark.functions import text as T

    texts = ["l'été où la forêt et le château", "naïve café — déjà vu", "日本語のテキスト", None]
    kernel, cols = _kernel_cases(spark)["lang_quality"]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts, pa.string())],
        names=["id", "text"],
    )
    got = [(r["detected_lang"], r["quality"]) for r in _rows(kernel, batch)]
    assert got == [T.lang_quality(t) for t in texts]
