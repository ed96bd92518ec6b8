"""Shingle-membership search — reference `rkmh search`
(/root/reference/src/rkmh.cpp:2124-2256): load a dictionary of known
hashes, probe every read k-mer against it, emit hits. (The reference has
an operator-precedence bug at :2231 — ``htc.get(kmers.kmers[j] > 0)``
passes a bool; our semantics are what that code intended.)

Spark spelling: the dictionary is a broadcast set (it is the small side by
construction — known-dup shingles); each document's shingle hashes are
probed inside the same vectorized kernel that computed them, so only hits
leave the worker. A relational left-semi spelling is provided for large
dictionaries.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions.shingles import hash_texts


def search_hashes_broadcast(
    pages: DataFrame,
    dictionary: np.ndarray,
    cfg: DedupConfig,
) -> DataFrame:
    """→ (url, hash, n_hits) — distinct dictionary hashes found per page."""
    k, seed = cfg.k, cfg.hash_seed
    dic = np.sort(np.asarray(dictionary, dtype=np.int64).view(np.uint64))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes: list = []
            found_chunks: list = [np.empty(0, dtype=np.uint64)]
            for bounds, hashes in hash_texts(pdf["text"].tolist(), k, seed):
                for h in np.split(hashes, bounds[1:-1]):
                    uniq = np.unique(h)
                    found = uniq[
                        np.searchsorted(dic, uniq, "right")
                        > np.searchsorted(dic, uniq)
                    ]
                    sizes.append(found.size)
                    found_chunks.append(found)
            yield pd.DataFrame(
                {
                    "url": np.repeat(pdf["url"].values, sizes),
                    "hash": np.concatenate(found_chunks).view(np.int64),
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("hash", T.LongType(), False),
        ]
    )
    hits = pages.select("url", "text").mapInPandas(kernel, schema=out_schema)
    return hits.groupBy("url").agg(
        F.count("*").alias("n_hits"), F.collect_list("hash").alias("hashes")
    )


def search_hashes_relational(
    exploded_hashes: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """Large-dictionary spelling: left-semi equi-join on the hash key.

    ``exploded_hashes``: (url, hash); ``dictionary``: (hash). Catalyst
    picks broadcast vs shuffled-hash join by size — the dictionary only
    needs to be a DataFrame, not driver-resident.
    """
    return (
        exploded_hashes.join(dictionary, "hash", "left_semi")
        .groupBy("url")
        .agg(F.count("*").alias("n_hits"))
    )
