"""Output sinks mirroring the reference's exchange formats (SURVEY.md §2.1).

S10 — Mash/sourmash-style sketch JSON (`dump_hash_json`,
/root/reference/src/rkmh.cpp:489-525): one JSON object per document with
the hash metadata the reference serializes (:493-497). ``canonical`` is
false for text (SURVEY.md §7.1 delta).

S11 — Vowpal Wabbit feature lines (`print_wabbit`, rkmh.cpp:463-487):
``label 1.0 url|sketch h1 h2 ...`` with '|' in the key munged to '_'
(:472).

S12 — hash/k-mer dump (`print_hashes`/`print_kmers`, rkmh.cpp:2078-2103):
exploded (url, pos, hash) relation for debugging / golden fixtures.

All are projections — ``df.write.json/text`` does the IO; no custom
writers needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions.shingles import hash_texts


def sketch_json(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → one JSON-ready row per doc with rkmh-compatible metadata."""
    k_field = cfg.k if isinstance(cfg.k, int) else ",".join(map(str, cfg.k))
    return signatures.select(
        F.col("url").alias("name"),
        F.lit(k_field).alias("kmer"),
        F.lit("utf8-bytes").alias("alphabet"),
        F.lit("MurmurHash3_x64_128").alias("hashType"),
        F.lit(64).alias("hashBits"),
        F.lit(cfg.hash_seed).alias("hashSeed"),
        F.lit(False).alias("canonical"),  # hashing is forward-only
        F.lit(cfg.sketch_size).alias("sketchSize"),
        F.col("n_shingles").alias("seqLen"),
        F.col("sketch").alias("sketches"),
    )


def vowpal_wabbit_lines(signatures: DataFrame, label: str = "1.0") -> DataFrame:
    """→ single-column 'line' DataFrame of VW feature strings."""
    munged = F.regexp_replace("url", r"\|", "_")  # rkmh.cpp:472 key munge
    return signatures.select(
        F.concat_ws(
            " ",
            F.lit(label),
            F.concat(munged, F.lit("|sketch")),
            F.concat_ws(" ", F.transform("sketch", lambda h: h.cast("string"))),
        ).alias("line")
    )


def hash_dump_rows(pdf: pd.DataFrame, k, seed: int) -> pd.DataFrame:
    """One Arrow batch of pages → its (url, pos, hash) rows; ``pos``
    restarts at 0 for every document."""
    counts, chunks = [np.empty(0, dtype=np.int64)], [np.empty(0, np.uint64)]
    for bounds, hashes in hash_texts(pdf["text"].tolist(), k, seed):
        counts.append(np.diff(bounds))
        chunks.append(hashes)
    n = np.concatenate(counts)
    h = np.concatenate(chunks)
    return pd.DataFrame(
        {
            "url": np.repeat(pdf["url"].values, n),
            "pos": np.arange(h.size, dtype=np.int64) - np.repeat(np.cumsum(n) - n, n),
            "hash": h.view(np.int64),
        }
    )


def hash_dump(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """S12: per-document exploded (url, pos, hash) — position-aligned like
    the reference's hash arrays (golden-fixture generator)."""
    k, seed = cfg.k, cfg.hash_seed

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield hash_dump_rows(pdf, k, seed)

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("pos", T.LongType(), False),
            T.StructField("hash", T.LongType(), False),
        ]
    )
    return pages.select("url", "text").mapInPandas(kernel, schema=schema)
