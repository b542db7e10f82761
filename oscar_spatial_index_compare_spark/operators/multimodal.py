"""Multimodal column plumbing: binary payloads + typed metadata (driver
mandate).  Image/audio decode libraries are not present in this container,
so the decode kernels are deterministic fakes behind the real Spark
plumbing — schema, Arrow batching, partitioning and UDF signatures are
production-shaped; swapping ``_fake_decode_dims`` for PIL is a one-line
change.

Pattern: binary column → ``mapInPandas`` (Arrow batches of bytes) → typed
metadata.  mapInPandas (not a scalar UDF) lets one batch amortize codec
setup.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)


META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sha256", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
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
