"""Multimodal column plumbing — image/audio/video as opaque binary + typed
metadata. Decode is an honest stub: no image, audio or video codec ships
with this text near-dup engine.

Pattern: media rows carry (url, kind, payload binary, meta map). Feature
extraction runs as mapInPandas over Arrow batches — binary columns arrive
as zero-copy buffers, outputs are fixed-width float vectors, so the
shuffle after extraction is narrow regardless of payload size.

``decode`` is the single seam: a real codec (PIL/ffmpeg) plugs in behind
it; the default is a deterministic fake (seeded from payload bytes) so
the pipeline shape is testable without one.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURE_DIM = 16


def media_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("kind", T.StringType(), False),  # image|audio|video
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        ]
    )


def _real_decode(payload: bytes, kind: str) -> np.ndarray:
    """Real decode needs an external codec library (PIL/ffmpeg), which
    is not a dependency; plug one in here."""
    raise NotImplementedError(
        f"no {kind} codec available: pass a decode callable backed by a "
        "real codec library to extract_features"
    )


def deterministic_fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """STUB decode: FEATURE_DIM floats derived from sha256(payload).

    Deterministic and collision-resistant enough for pipeline tests; NOT a
    real feature extractor (clearly marked per the task brief).
    """
    if payload is None:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    d = hashlib.sha256(payload).digest() + hashlib.sha256(b"k" + payload).digest()
    raw = np.frombuffer(d[: FEATURE_DIM * 4], dtype=np.uint32)
    return (raw / np.float32(2**32)).astype(np.float32)


def extract_features(
    media: DataFrame,
    decode: Callable[[bytes, str], np.ndarray] = deterministic_fake_decode,
) -> DataFrame:
    """media → (url, kind, features array<float>, payload_bytes long)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(p, k_) for p, k_ in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "kind": pdf["kind"].values,
                    "features": feats,
                    "payload_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.FloatType()), False),
            T.StructField("payload_bytes", T.LongType(), False),
        ]
    )
    return media.select("url", "kind", "payload").mapInPandas(kernel, schema=schema)


def sample_frames(
    media: DataFrame,
    n_frames: int = 4,
) -> DataFrame:
    """Video frame sampling plumbing: deterministic byte-offset windows
    standing in for decoded frames (STUB decode; real path would slice
    decoded frames at the same indices). → (url, frame_idx, frame_bytes)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, frames = [], [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                step = max(1, len(payload) // n_frames)
                for i in range(min(n_frames, len(payload))):
                    urls.append(url)
                    idxs.append(i)
                    frames.append(bytes(payload[i * step : i * step + 64]))
            yield pd.DataFrame(
                {"url": urls, "frame_idx": idxs, "frame_bytes": frames}
            )

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_bytes", T.BinaryType(), False),
        ]
    )
    return media.select("url", "payload").mapInPandas(kernel, schema=schema)
