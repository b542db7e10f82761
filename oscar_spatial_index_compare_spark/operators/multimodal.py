"""Multimodal column plumbing: binary payloads + typed metadata (driver
mandate).  Image/audio decode libraries are not present in this container,
so the decode kernels are deterministic fakes behind the real Spark
plumbing — schema, Arrow batching, partitioning and UDF signatures are
production-shaped; swapping ``_fake_decode`` for PIL/ffmpeg is a one-line
change per kernel.

Pattern: binary column → ``mapInPandas`` (Arrow batches of bytes) → struct
metadata / fixed-size feature vectors.  mapInPandas (not a scalar UDF)
because decode fan-out can change row counts (frame sampling) and lets one
batch amortize codec setup.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)


META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sha256", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
])

FEAT_DIM = 16
FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("features", ArrayType(FloatType())),
])


def media_from_documents(docs_cc: DataFrame) -> DataFrame:
    """Treat the html binary column as the opaque media payload."""
    return docs_cc.select(
        "doc_id", F.lit("text/html").alias("media_type"),
        F.col("html").alias("payload"),
    )


def _fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """STUB decode (no image libs in this container): deterministic pseudo
    dimensions from the payload digest.  Replace with PIL.Image.open for
    real images — the Spark-side contract is unchanged."""
    h = hashlib.sha256(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


def extract_metadata(media: DataFrame) -> DataFrame:
    """binary → typed metadata via Arrow-batched mapInPandas."""
    def fn(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                b = bytes(payload)
                w, h = _fake_decode_dims(b)
                rows.append((doc_id, mt, len(b), hashlib.sha256(b).hexdigest(), w, h))
            yield pd.DataFrame(rows, columns=[f.name for f in META_SCHEMA.fields])

    return media.mapInPandas(fn, META_SCHEMA)


def extract_features(media: DataFrame, frames_per_doc: int = 3) -> DataFrame:
    """binary → per-frame fixed-size feature vectors (frame-sampling shape:
    output rows ≠ input rows, which is exactly why this is mapInPandas)."""
    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_doc, out_idx, out_feat = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                dig = hashlib.sha256(b).digest()
                for k in range(frames_per_doc):
                    seed = np.frombuffer(
                        hashlib.sha256(dig + bytes([k])).digest()[: FEAT_DIM * 2],
                        dtype=np.uint16,
                    ).astype(np.float32)
                    out_doc.append(doc_id)
                    out_idx.append(k)
                    out_feat.append((seed / 65535.0).tolist())
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "features": out_feat}
            )

    return media.mapInPandas(fn, FEATURE_SCHEMA)
