"""Multimodal column plumbing: media as an opaque binary column,
decoded in Arrow-batched mapInPandas.

The decode step is a stub (this environment ships no image/audio
library): it reads each blob's byte count and first byte, so the
Spark-side plumbing — binary column, Arrow batches, the UDF's typed
output — is real and oracle-checked by the `multimodal_stub` query. A
PIL/torchaudio decode replaces the per-blob columns on a cluster with
the libraries installed; nothing else changes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def extract_features(media: DataFrame) -> DataFrame:
    """(id, n_bytes, header_byte) per row of a two-column (id, blob)
    frame: the blob's byte count and its first byte, -1 when it is
    empty. The id column keeps its name and is read as a long."""
    id_col, blob_col = media.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "header_byte": blobs.map(lambda b: int(b[0]) if len(b) else -1).astype("int64"),
                }
            )

    return media.mapInPandas(run, schema=f"{id_col} long, n_bytes long, header_byte long")
