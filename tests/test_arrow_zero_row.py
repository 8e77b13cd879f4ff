"""Zero-row Arrow batches: a zero-length string array may carry no
offsets buffer at all (Arrow allows it for length 0), so every kernel
that reads string buffers must treat it as an empty batch, not call
``np.frombuffer(None)``. The kernels are driven directly, outside Spark,
through a stand-in DataFrame that captures the function handed to
``mapInArrow``."""

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
    """Stands in for a DataFrame: ``select`` and ``dropna`` keep
    (id, text) and ``mapInArrow`` records the kernel instead of planning
    it."""

    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )

    def select(self, *cols):
        return self

    def dropna(self, subset):
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
