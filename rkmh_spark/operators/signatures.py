"""Stage 1 — signature computation (SURVEY.md §7.2 M1).

pages(url, warc_ts, html, text, lang) → signatures(url, sketch, minhash,
n_shingles).

One ``mapInPandas`` pass: Arrow delivers columnar batches, the batch's
shingles are hashed in cache-sized vectorized murmur3 chunks
(shingles.hash_texts), and only the signatures leave the worker — the
full hash arrays never hit the shuffle.
This is the Spark reshaping of rkmh's per-read OpenMP loop (calc_hashes →
minhashes, /root/reference/src/rkmh.cpp:845-863): thread parallelism
becomes partition parallelism, the per-read task becomes a per-batch
vectorized kernel.

Two signatures per page, from the same murmur pass:
- ``sketch``: bottom-s multiset sketch — the REFERENCE-PARITY object; exact
  verification and recall accounting use only this.
- ``minhash``: K = num_bands*band_rows One-Permutation-Hashing minima
  (bin = h mod K, per-bin min, rotation densification) — the LSH banding
  object. Bottom-k slices don't band (one differing small hash shifts all
  later positions); per-bin minima do, at O(n) instead of O(n*K).

Scale notes:
- Output is O(s + K) longs/doc regardless of document size, so the
  signatures table for 10^12 docs is shuffle-friendly and checkpointable.
- Frequency filters (rkmh ``-I`` max samples per hash, ``-M`` min
  occurrence) need corpus-wide counts, so their exact spelling is one
  relational pass (compute_signatures_min_occ). The stream's Count-Min
  ``-M`` counter is the one filter that rides the sketch kernel: a keep
  mask over the hashes of each murmur chunk.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions.shingles import (
    hash_texts,
    oph_minhash,
    sketch_texts_batch,
)


def signatures_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("sketch", T.ArrayType(T.LongType()), False),
            T.StructField("minhash", T.ArrayType(T.LongType()), False),
            T.StructField("n_shingles", T.LongType(), False),
        ]
    )


def compute_signatures(pages: DataFrame, cfg: DedupConfig, cms=None) -> DataFrame:
    """pages → (url, sketch, minhash, n_shingles); arrays bit-cast u64→i64.

    ``cms``: the A5 Count-Min counter (docfreq.CountMinSketchNP), read only
    when cfg.min_occ is set: a hash is kept iff ``cms.estimate(h) >=
    min_occ`` — the reference's doReadDepth counter lookup
    (/root/reference/src/rkmh.cpp:1256-1267) with the counter riding the
    kernel closure (~0.5 MB) instead of shared memory; zero shuffles.
    Estimates only over-count, so the kept set is a SUPERSET of the exact
    compute_signatures_min_occ set (the reference's own collision mode,
    README.md:67-69); width sizes the error.

    The exact filters are relational, so a config this pass cannot honour
    raises rather than sketching unfiltered: ``max_doc_freq`` set, or
    ``min_occ`` set without ``cms``.
    """
    if cfg.max_doc_freq is not None:
        raise ValueError(
            "compute_signatures cannot apply cfg.max_doc_freq; "
            "use compute_signatures_min_occ"
        )
    keep = None
    if cfg.min_occ is not None:
        if cms is None:
            raise ValueError(
                "compute_signatures applies cfg.min_occ only through a "
                "Count-Min counter (cms=); use compute_signatures_min_occ"
            )
        min_occ = int(cfg.min_occ)

        def keep(h: np.ndarray) -> np.ndarray:
            return cms.estimate(h) >= min_occ

    k, s, seed = cfg.k, cfg.sketch_size, cfg.hash_seed
    num_perms = cfg.num_bands * cfg.band_rows

    # Column-prune before the python worker: only url+text cross Arrow.
    narrow = pages.select("url", "text")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sketches, minhashes, counts = sketch_texts_batch(
                pdf["text"].tolist(), k, s, seed,
                keep=keep, num_bins=num_perms,
            )
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "sketch": sketches,
                    "minhash": minhashes,
                    "n_shingles": counts,
                }
            )

    return narrow.mapInPandas(kernel, schema=signatures_schema())


def compute_signatures_min_occ(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """F4/F5 (rkmh ``-M min_kmer_occ`` and ``-I max_samples``): keep a hash
    iff its GLOBAL occurrence count >= cfg.min_occ and/or it occurs in at
    most cfg.max_doc_freq documents, then bottom-s sketch the survivors
    (/root/reference/src/rkmh.cpp:835-836,1256-1267,1363-1374). At least
    one of the two must be set; together they compose as in the
    reference's doReadDepth branch.

    The keep-set at web scale is every shingle seen >= M times, and a low
    ``-I`` makes most shingles hot — neither set is bounded enough to
    collect to the driver, so the pass is relational:

      pages → per-doc distinct (url, hash, cnt)      [mapInPandas, checkpointed]
            → groupBy(hash) depth=Σcnt, df=count(*)   [shuffle on hash]
            ⋈ per-doc on hash → keep column           [shuffle on hash]
            → groupBy(url) rebuild sketch + OPH       [mapInPandas]

    Every shuffle is bounded by Σ distinct shingles per doc (counts
    travel, not occurrences). ``per_doc`` holds each document's DISTINCT
    hashes, so one aggregate gives both statistics: ``count(*)`` is the
    document frequency and ``Σ cnt`` the depth (hash_depth_table spells
    the depth standalone).

    Precondition: ``url`` is a key — the rebuild groups by url, so pages
    sharing a url merge into one signature.
    """
    if cfg.min_occ is None and cfg.max_doc_freq is None:
        raise ValueError(
            "compute_signatures_min_occ requires cfg.min_occ and/or "
            "cfg.max_doc_freq"
        )
    k, s, seed = cfg.k, cfg.sketch_size, cfg.hash_seed
    num_perms = cfg.num_bands * cfg.band_rows

    def explode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes, hs, cs = [], [], []
            for bounds, hashes in hash_texts(pdf["text"].tolist(), k, seed):
                for h in np.split(hashes, bounds[1:-1]):
                    h = h[h != 0]
                    if h.size:
                        vals, cnts = np.unique(h, return_counts=True)
                    else:  # keep the doc visible downstream (empty-sketch row)
                        vals = np.zeros(1, dtype=np.uint64)
                        cnts = np.zeros(1, dtype=np.int64)
                    sizes.append(vals.size)
                    hs.append(vals.view(np.int64))
                    cs.append(cnts)
            yield pd.DataFrame(
                {
                    "url": np.repeat(pdf["url"].values, sizes),
                    "hash": np.concatenate(hs) if hs else [],
                    "cnt": np.concatenate(cs) if cs else [],
                }
            )

    # materialized once (localCheckpoint, O(Σ distinct shingles/doc)
    # compact rows): it feeds both the statistics aggregate and the keep
    # join, so the corpus is tokenized and hashed once
    per_doc = pages.select("url", "text").mapInPandas(
        explode_kernel,
        schema=T.StructType(
            [
                T.StructField("url", T.StringType(), False),
                T.StructField("hash", T.LongType(), False),
                T.StructField("cnt", T.LongType(), False),
            ]
        ),
    ).localCheckpoint(eager=True)
    # cnt=0 placeholder rows of empty docs are excluded from the counts
    stats = (
        per_doc.where(F.col("cnt") > 0)
        .groupBy("hash")
        .agg(F.sum("cnt").alias("depth"), F.count("*").alias("df"))
    )
    # every real hash finds its statistics row (its own doc contributed);
    # the placeholder row joins NULLs and stays unkept (cnt > 0 is false)
    keep = F.col("cnt") > 0
    if cfg.min_occ is not None:
        keep = keep & (F.col("depth") >= F.lit(int(cfg.min_occ)))
    if cfg.max_doc_freq is not None:
        keep = keep & (F.col("df") <= F.lit(int(cfg.max_doc_freq)))
    joined = per_doc.join(stats, "hash", "left").withColumn("keep", keep)
    # ONE aggregation gathers each doc's kept (hash, cnt) pairs + totals;
    # the sketch rebuild then runs as a batched mapInPandas (one Python
    # call per Arrow batch) rather than applyInPandas' one call + one
    # DataFrame construction per GROUP — measured ~2× on 5k docs
    gathered = joined.groupBy("url").agg(
        F.sum("cnt").alias("n_shingles"),
        F.collect_list(F.when(F.col("keep"), F.col("hash"))).alias("khash"),
        F.collect_list(F.when(F.col("keep"), F.col("cnt"))).alias("kcnt"),
    )

    def rebuild(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sketches, minhashes = [], []
            for kh, kc in zip(pdf["khash"], pdf["kcnt"]):
                vals = np.asarray(kh, dtype=np.int64).view(np.uint64)
                cnts = np.asarray(kc, dtype=np.int64)
                order = np.argsort(vals)  # u64 order BEFORE the i64 bit-cast
                expanded = np.repeat(vals[order], cnts[order])
                sketches.append(expanded[:s].view(np.int64))
                minhashes.append(oph_minhash(vals[order], num_perms))
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "sketch": sketches,
                    "minhash": minhashes,
                    "n_shingles": pdf["n_shingles"].values,
                }
            )

    return gathered.mapInPandas(rebuild, schema=signatures_schema())
