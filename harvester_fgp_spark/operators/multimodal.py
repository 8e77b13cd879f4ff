"""Multimodal column plumbing (training-data pipeline ops).

Images/audio/video ride as opaque ``binary`` columns with a typed metadata
struct. The decode/feature kernels are STUBS behind a clearly-marked seam
(no image/audio libs exist in this container — see ``_decode_image``);
everything Spark-side is real and tested: schema, Arrow batch shape,
``mapInArrow`` kernels, bounded batch sizing for large blobs.

Production note: bound spark.sql.execution.arrow.maxRecordsPerBatch
(session.py uses 16384, sized for ~KB text payloads) when blob columns
ride through mapInArrow — batch bytes, not batch rows, are what OOMs a
Python worker; for multi-MB media blobs drop it to a few hundred.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
    ]
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sha", StringType(), True),
    ]
)

_DECODERS_AVAILABLE = False  # no PIL/cv2/librosa in this container


def _decode_image(payload: bytes) -> tuple[int, int]:
    """STUB: image decode seam.

    With a real decoder: return PIL.Image.open(io.BytesIO(payload)).size.
    Here: a deterministic fake derived from the payload bytes, so the
    plumbing (schema, nullability, batching) is testable end-to-end.
    """
    if _DECODERS_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("wire PIL/cv2 here")
    if not payload:
        return (0, 0)
    return (len(payload) % 1920 + 1, len(payload) % 1080 + 1)


def extract_media_meta(media: DataFrame) -> DataFrame:
    """binary blobs -> typed metadata rows via one mapInArrow stage.

    The native parts (byte length, sha) stay JVM-side; only the decode
    seam (``_decode_image``) runs in Python, once per image row.
    """
    narrow = media.select("media_id", "kind", "mime", "payload").withColumn(
        "n_bytes", F.length("payload").cast("long")
    ).withColumn("sha", F.sha2(F.col("payload"), 256))

    def _decode(batches):
        for b in batches:
            dims = [
                _decode_image(p) if p is not None and k == "image" else (None, None)
                for p, k in zip(
                    b.column("payload").to_pylist(), b.column("kind").to_pylist()
                )
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("media_id"),
                    b.column("kind"),
                    b.column("mime"),
                    b.column("n_bytes"),
                    pa.array([d[0] for d in dims], pa.int32()),
                    pa.array([d[1] for d in dims], pa.int32()),
                    b.column("sha"),
                ],
                names=MEDIA_META_SCHEMA.fieldNames(),
            )

    return narrow.mapInArrow(_decode, MEDIA_META_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame_payload", BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, frame_ms: int = 1000) -> DataFrame:
    """Video frame sampling: ONE blob row -> MANY frame rows (mapInArrow;
    a scalar UDF can't change cardinality).

    Decode seam is stubbed like _decode_image: the fake "container" holds
    ``n_bytes % 7 + 1`` frames and each frame's payload is that frame's
    contiguous byte slice — deterministic, so frame counts and sizes are
    oracle-checkable while the real-decoder swap point stays obvious.
    """

    def _frames(batches):
        for b in batches:
            ids, idxs, tss, pls = [], [], [], []
            for mid, p in zip(
                b.column("media_id").to_pylist(), b.column("payload").to_pylist()
            ):
                if p is None:
                    continue
                n_frames = len(p) % 7 + 1
                step = max(1, len(p) // n_frames)
                for j in range(n_frames):
                    ids.append(mid)
                    idxs.append(j)
                    tss.append(j * frame_ms)
                    pls.append(p[j * step : (j + 1) * step])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(idxs, pa.int32()),
                    pa.array(tss, pa.int64()),
                    pa.array(pls, pa.binary()),
                ],
                names=FRAME_SCHEMA.fieldNames(),
            )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInArrow(_frames, FRAME_SCHEMA)


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize seam: blob -> (blob', width, height) via mapInArrow.

    Real decoder would be PIL resize; the fake keeps the first
    width*height//64 bytes (deterministic) so downstream plumbing —
    schema, binary round trip, partitioning — is testable.
    """
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("payload", BinaryType(), True),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
        ]
    )
    keep = max(1, width * height // 64)

    def _resize(batches):
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("media_id"),
                    pc.binary_slice(b.column("payload"), 0, keep),
                    pa.array([width] * n, pa.int32()),
                    pa.array([height] * n, pa.int32()),
                ],
                names=out_schema.fieldNames(),
            )

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInArrow(_resize, out_schema)


def embed_media(media: DataFrame, dim: int = 64) -> DataFrame:
    """Feature-extraction seam: blob -> embedding array<float>.

    The fake derives a unit vector from the blob's sha256 (numpy PCG
    seeded by the digest) — deterministic per payload, so identical blobs
    embed identically and the output feeds the REAL similarity operators
    (cosine_topk / ann_lsh / ann_ivf / exact_near_dup_pairs) end-to-end;
    tests/test_multimodal_chain.py drives that chain.
    """
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), True),
        ]
    )

    def _embed(batches):
        for b in batches:
            embs = []
            for p in b.column("payload").to_pylist():
                if p is None:
                    embs.append(None)
                    continue
                seed = int.from_bytes(hashlib.sha256(p).digest()[:8], "big")
                v = np.random.default_rng(seed).standard_normal(dim)
                embs.append((v / np.linalg.norm(v)).astype(np.float32))
            yield pa.RecordBatch.from_arrays(
                [b.column("media_id"), pa.array(embs, pa.list_(pa.float32()))],
                names=["media_id", "embedding"],
            )

    return media.select("media_id", "payload").mapInArrow(_embed, out_schema)
