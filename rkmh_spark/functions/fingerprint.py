"""Document fingerprinting — winnowing over the shingle-hash stream.

Training-pipeline operator (task brief: "document fingerprinting (rolling
hash)"): the standard winnowing scheme (Schleimer/Wilkerson/Aiken,
SIGMOD'03 — public algorithm) over the SAME murmur3 shingle hashes the
dedup pipeline already computes: slide a window of w consecutive shingle
hashes, keep the minimum of each window (rightmost on ties), dedupe
consecutive picks. Guarantees any shared substring of length >= w+k-1
contributes at least one common fingerprint.

Vectorized: the window minimum is a numpy sliding_window_view min over
the hash array — no per-position Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rkmh_spark.functions.shingles import hash_texts


def winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Winnowing fingerprint of a uint64 hash sequence; sorted distinct."""
    if hashes.size == 0:
        return np.empty(0, dtype=np.uint64)
    if hashes.size <= w:
        return np.sort(np.unique(hashes.min(keepdims=True)))
    mins = sliding_window_view(hashes, w).min(axis=1)
    return np.sort(np.unique(mins))


def fingerprint_documents(pages: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """→ (url, fingerprints array<long>, n_fp), over the seed-42 hashes."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps, ns = [], []
            for bounds, hashes in hash_texts(pdf["text"].tolist(), k):
                for h in np.split(hashes, bounds[1:-1]):
                    f = winnow(h, w)
                    fps.append(f.view(np.int64))
                    ns.append(f.size)
            yield pd.DataFrame(
                {"url": pdf["url"].values, "fingerprints": fps, "n_fp": ns}
            )

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("fingerprints", T.ArrayType(T.LongType()), False),
            T.StructField("n_fp", T.LongType(), False),
        ]
    )
    return pages.select("url", "text").mapInPandas(kernel, schema=schema)
