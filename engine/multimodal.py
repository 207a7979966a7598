"""Multimodal column plumbing: opaque binary payloads.

Images/audio/video ride through the pipeline as ``binary`` columns;
decode / feature-extract run as an Arrow-batched ``mapInPandas``
kernel — the same execution shape as the HTML extraction kernel
(engine/extract.py), so partitioning, skew salting and lineage apply
unchanged.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT present in this
environment, so the decode step is STUBBED: ``decode_image`` raises
``NotImplementedError`` unless ``deterministic_fake=True``, in which
case a seeded, content-derived fake feature vector is produced.  The
Spark-side plumbing — schema, batch shape, UDF signature, partition
behaviour — is real and tested (tests/test_multimodal.py).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, LongType, StringType, StructField, StructType,
)

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("nbytes", LongType(), False),
    StructField("content_sha", StringType(), False),
    StructField("features", ArrayType(FloatType()), True),
    StructField("status", StringType(), False),    # ok | decode_unavailable
])

_FEATURE_DIM = 16


def decode_image(payload: bytes, deterministic_fake: bool = False) -> List[float]:
    """Decode an image payload into a feature vector.

    Real decode requires an image codec that is not installed in this
    container; the deterministic fake derives a stable vector from the
    content hash so the distributed plumbing is fully testable.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "image codecs (PIL/libjpeg) are not available in this "
            "environment; pass deterministic_fake=True for the seeded stub")
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(_FEATURE_DIM)]


def extract_media_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id",
                           deterministic_fake: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over a binary media column.

    One output row per input row; decode failures are accounted in the
    ``status`` column (never raised) so lineage-level failure counting
    (engine/pipeline.py) works identically for media batches.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            n = len(batch)
            ids = batch[id_col]
            payloads = batch[payload_col]
            nbytes = [0] * n
            shas: List[Optional[str]] = [None] * n
            feats: List[Optional[List[float]]] = [None] * n
            status = ["ok"] * n
            for i in range(n):
                p = payloads.iat[i]
                p = bytes(p) if p is not None else b""
                nbytes[i] = len(p)
                shas[i] = hashlib.sha256(p).hexdigest()
                try:
                    feats[i] = decode_image(p, deterministic_fake)
                except NotImplementedError:
                    status[i] = "decode_unavailable"
            yield pd.DataFrame({
                "media_id": ids,
                "nbytes": pd.Series(nbytes, dtype="int64"),
                "content_sha": shas,
                "features": pd.Series(feats, dtype=object),
                "status": status,
            })

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)
