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

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.config import DedupConfig


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


def hash_dump(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """S12: per-document exploded (url, pos, hash) — position-aligned like
    the reference's hash arrays (golden-fixture generator)."""
    import numpy as np

    from rkmh_spark.functions.shingles import shingle_hashes

    k, seed = cfg.k, cfg.hash_seed

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, poss, chunks = [], [], []
            for url, t in zip(pdf["url"], pdf["text"]):
                h = shingle_hashes(t if t is not None else "", k, seed)
                if h.size:
                    urls.extend([url] * h.size)
                    poss.append(np.arange(h.size, dtype=np.int64))
                    chunks.append(h.view(np.int64))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "pos": np.concatenate(poss) if poss else np.empty(0, np.int64),
                    "hash": np.concatenate(chunks) if chunks else np.empty(0, np.int64),
                }
            )

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("pos", T.LongType(), False),
            T.StructField("hash", T.LongType(), False),
        ]
    )
    return pages.select("url", "text").mapInPandas(kernel, schema=schema)
