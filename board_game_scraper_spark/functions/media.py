"""Multimodal column operators (training-pipeline additions).

Images/audio/video ride as opaque ``binary`` columns with typed metadata
structs; decode + featurize runs as an Arrow-batched pandas UDF over
``mapInPandas``.  No image/audio library is a dependency, so the decoder
is a deterministic fake (``_fake_decode``); a real codec would replace it
without changing the Spark-side plumbing (schemas, batch shape,
partitioning).

Schema convention:
    media(doc_id string, media_ref string, kind string,
          payload binary, meta struct<width:int, height:int,
          duration_ms:int, mime:string>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    # feature carries float64: the fake-decoder values are exact 4-decimal
    # rationals (k/10000) which float64 represents exactly but float32
    # does not — float32 storage made f0=0.0001 stringify as "1e-04" in
    # pandas-side checkers while the DuckDB oracle's double printed
    # "0.0001" (one-row hash mismatch at sf0.1, found round 7).  A real
    # model's embedding dtype is its own business; this schema is the
    # oracle-checked stand-in's.
    "doc_id string, media_ref string, kind string, "
    "feature array<double>, feat_dim int"
)


def _fake_decode(payload: bytes | None, ref: str, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for decode+featurize: hash → float vector.

    Keeps the whole pipeline testable end-to-end (schema, batching,
    ordering) without image libs; replace with a real model on cluster.
    """
    h = hashlib.sha256((ref or "").encode() + (payload or b"")).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4],
                        dtype=np.uint32)
    return (raw % 10_000).astype(np.float64) / 10_000.0


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + featurize each media item (mapInPandas, Arrow batches)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_fake_decode(p, r, dim)
                     for p, r in zip(pdf["payload"], pdf["media_ref"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f in feats],
                    "feat_dim": [len(f) for f in feats],
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)

