"""Global shingle occurrence counters: the exact depth table and the
Count-Min sketch.

Reference analogs: global k-mer counting (`rkmh count`,
/root/reference/src/rkmh.cpp:2268-2360) and the ``-M``/``call`` hash depth
counter (/root/reference/src/rkmh.cpp:1256-1267,1784). The reference
serializes this through an ``omp critical`` shared map or a lossy
fixed-size HASHTCounter (/root/reference/src/rkmh.cpp:340-421); here the
exact table is a distributed hash aggregation — partial (map-side) combine
then a single shuffle on the hash key — and the lossy one is a proper
Count-Min sketch built per partition and summed on the driver.

The exact document frequency behind ``-I`` is not spelled here: the
signature pass derives it together with the depth from its own per-doc
relation (signatures.compute_signatures_min_occ).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions.shingles import hash_texts


def hash_depth_table(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """→ DataFrame(hash: long, depth: long) — TOTAL occurrences per shingle.

    Reference parity: the ``-M``/``call`` global counter counts every hash
    occurrence across all reads, with multiplicity (read_hash_counter /
    read_hash_to_depth, /root/reference/src/rkmh.cpp:1256-1267,1784), not
    the number of documents containing the hash. The kernel emits one
    (hash, cnt) pair per distinct hash of each murmur chunk — the exploded
    relation is bounded by Σ distinct shingles/chunk, and the shuffle
    carries counts, not rows.
    """
    k, seed = cfg.k, cfg.hash_seed

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, hashes in hash_texts(pdf["text"].tolist(), k, seed):
                vals, cnts = np.unique(hashes[hashes != 0], return_counts=True)
                yield pd.DataFrame(
                    {"hash": vals.view(np.int64), "cnt": cnts.astype(np.int64)}
                )

    exploded = pages.select("text").mapInPandas(
        kernel,
        schema=T.StructType(
            [
                T.StructField("hash", T.LongType(), False),
                T.StructField("cnt", T.LongType(), False),
            ]
        ),
    )
    return exploded.groupBy("hash").agg(F.sum("cnt").alias("depth"))


class CountMinSketchNP:
    """A5 — the reference's lossy fixed-memory counter (HASHTCounter,
    /root/reference/src/rkmh.cpp:340-421, README.md:67-69 "~80 MB,
    collision-prone") as a proper Count-Min Sketch (Cormode/Muthukrishnan,
    public algorithm): depth×width int64 table, per-row universal hashing,
    estimate = min over rows. One-sided like the reference's collisions:
    estimates only ever OVER-count, so a keep-if-count≥M filter keeps a
    superset — the same failure direction the reference documents.

    Vectorized NumPy throughout; the table is a few hundred KB and rides
    the signature kernel's closure (compute_signatures(..., cms=)), so the
    -M filter runs with zero shuffle — the Spark reshaping of the reference holding its counter
    resident in shared memory (rkmh.cpp:1256: counter lookup per hash).
    """

    def __init__(self, width: int = 1 << 14, depth: int = 4, seed: int = 42):
        self.width = width
        self.depth = depth
        rng = np.random.default_rng(seed)
        self.a = (
            rng.integers(1, 2**62, size=depth, dtype=np.uint64) * np.uint64(2)
            + np.uint64(1)
        )
        self.b = rng.integers(0, 2**63, size=depth, dtype=np.uint64)
        self.table = np.zeros((depth, width), dtype=np.int64)

    def _idx(self, hashes: np.ndarray) -> np.ndarray:
        """(depth, n) table columns for uint64 inputs."""
        mixed = hashes[None, :] * self.a[:, None] + self.b[:, None]
        return ((mixed >> np.uint64(33)) % np.uint64(self.width)).astype(
            np.int64
        )

    def update(self, hashes: np.ndarray) -> None:
        idx = self._idx(hashes.astype(np.uint64))
        for d in range(self.depth):
            np.add.at(self.table[d], idx[d], 1)

    def estimate(self, hashes: np.ndarray) -> np.ndarray:
        """(n,) over-estimates of each hash's total count."""
        if hashes.size == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._idx(hashes.astype(np.uint64))
        ests = np.stack(
            [self.table[d][idx[d]] for d in range(self.depth)], axis=0
        )
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketchNP") -> "CountMinSketchNP":
        assert (self.width, self.depth) == (other.width, other.depth)
        self.table += other.table
        return self


def approx_hash_depth_cms(
    pages: DataFrame,
    cfg: DedupConfig,
    width: int = 1 << 14,
    depth: int = 4,
) -> CountMinSketchNP:
    """Build the global CMS distributed: one local table per partition
    (mapInPandas emits the flattened int64 table as ONE row), tables
    summed on the driver — a fixed depth×width×8-byte transfer per
    partition regardless of corpus size. No shuffle at all."""
    k, seed = cfg.k, cfg.hash_seed

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cms = CountMinSketchNP(width, depth, seed)
        for pdf in batches:
            for _, hashes in hash_texts(pdf["text"].tolist(), k, seed):
                cms.update(hashes[hashes != 0])
        yield pd.DataFrame({"table": [cms.table.ravel().tolist()]})

    parts = pages.select("text").mapInPandas(
        kernel,
        schema=T.StructType(
            [T.StructField("table", T.ArrayType(T.LongType()), False)]
        ),
    )
    out = CountMinSketchNP(width, depth, cfg.hash_seed)
    for r in parts.collect():
        out.table += np.array(r["table"], dtype=np.int64).reshape(depth, width)
    return out
