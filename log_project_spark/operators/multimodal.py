"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata, processed in Arrow-batched mapInPandas.

The decode step is STUBBED (this environment ships no image/audio
libraries): `decode_image`/`decode_audio` raise NotImplementedError
unless `fake=True`, in which case a deterministic fake decoder runs so
the Spark-side plumbing — binary schema, Arrow batch shapes, UDF
signatures, partitioning — is real and testable. Swap `_fake_*` for a
PIL/torchaudio call on a cluster with the libs installed; nothing else
changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, blob binary, mime string, width int, height int, "
    "duration_ms int"
)

FEATURE_SCHEMA = "media_id long, n_bytes long, feat array<float>, ok boolean"


def media_table_from_text(df: DataFrame, id_col: str, text_col: str, kind: str = "image") -> DataFrame:
    """Test fixture: wrap any text column as an opaque binary media
    column with plausible metadata (deterministic)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("blob"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.xxhash64(F.col(text_col)), F.lit(512)) + 32).cast("int").alias("width"),
        (F.pmod(F.xxhash64(F.col(text_col), F.lit(1)), F.lit(512)) + 32).cast("int").alias("height"),
        (F.pmod(F.xxhash64(F.col(text_col), F.lit(2)), F.lit(60000)) + 100).cast("int").alias("duration_ms"),
    )


def _fake_decode(blob: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for image/audio decode + feature extract:
    sha256 of the bytes seeds a tiny feature vector."""
    digest = hashlib.sha256(blob).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 8, fake: bool = True, batch_limit_bytes: int = 64 << 20
) -> DataFrame:
    """mapInPandas feature extraction over binary blobs. Real plumbing:
    Arrow binary batches in, fixed-width float features out. At scale,
    repartition upstream so each task's blob volume stays near
    `batch_limit_bytes` (executor-memory bound, not row-count bound)."""
    if not fake:
        raise NotImplementedError(
            "real image/audio decoding requires PIL/torchaudio; not available "
            "in this environment — pass fake=True for the deterministic stub"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            feats = [
                _fake_decode(b if isinstance(b, (bytes, bytearray)) else bytes(b), dim)
                for b in blobs
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "feat": [f.tolist() for f in feats],
                    "ok": True,
                }
            )

    return media.select("media_id", "blob").mapInPandas(run, schema=FEATURE_SCHEMA)
