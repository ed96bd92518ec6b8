"""Containment pass — asymmetric near-dups (truncations, quote-inside-page).

Reference analog: J4 ``hash_set_intersection_size`` — rkmh hpv16 compares a
read's FULL hash set against type sketches (/root/reference/src/rkmh.cpp:
2666-2678), which is containment-style (asymmetric) matching rather than
symmetric Jaccard.

Two stages, both candidate-restricted (never all-pairs):
1. sketch-containment score: shared / min(|sketch_a|, |sketch_b|) — high
   when one document's shingle set nests inside the other's even though
   plain Jaccard is low (a 10x longer page diluting the union).
2. exact substring confirmation on the surviving pairs only: the shorter
   text must occur verbatim inside the longer. F.contains is JVM-side
   (codegen StringContains); per-pair cost is linear in text length, and
   the pair set is already LSH+containment-pruned, so this is the same
   cost envelope as a suffix-array pass without the build.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.lsh import bucket_pairs


def _containment_est(a: pd.Series, b: pd.Series) -> pd.Series:
    """Broder bottom-k containment estimate, max over both directions.

    Naive shared/min(|a|,|b|) is WRONG for bottom-k sketches: a document
    3x longer has a 3x lower sketch threshold, so the raw overlap degrades
    with the size ratio even at perfect containment. The correct
    estimator for C(B ⊆ A) restricts B's sketch to values at or below A's
    sketch threshold (u64 order!) — within that range A's sketch is a
    complete membership oracle for A's shingle set:

        C(B ⊆ A) ≈ |{h ∈ sk_B : h <= max(sk_A)} ∩ sk_A|
                   / |{h ∈ sk_B : h <= max(sk_A)}|
    """
    out = np.zeros(len(a), dtype=np.float64)
    for i in range(len(a)):
        xa = np.asarray(a.iloc[i], dtype=np.int64).view(np.uint64)
        xb = np.asarray(b.iloc[i], dtype=np.int64).view(np.uint64)
        if xa.size == 0 or xb.size == 0:
            continue
        best = 0.0
        for small, big in ((xb, xa), (xa, xb)):
            thr = big[-1]  # sketches are sorted ascending in u64 order
            restricted = small[small <= thr]
            if restricted.size:
                hits = np.isin(restricted, big).sum()
                best = max(best, hits / restricted.size)
        out[i] = round(best, 6)
    return pd.Series(out)


# Marked nondeterministic only so the optimizer keeps the threshold filter
# ABOVE the projection that computes it: pushed below, the filter copies
# the UDF call and every candidate pays the Python kernel twice.
_containment_udf = pandas_udf(_containment_est, T.DoubleType()).asNondeterministic()


def containment_candidates(
    signatures: DataFrame, cfg: DedupConfig, n_anchors: int = 16
) -> DataFrame:
    """Candidate pairs for ASYMMETRIC dups via shared anchor hashes.

    Symmetric-Jaccard LSH misses containment pairs (a page nested in one
    3x larger has j≈1/3 → banding capture collapses). But if B ⊆ A, the
    smallest hash of B is the smallest of A's hashes restricted to B — its
    rank in A's order is Geometric(f) for containment fraction f, so B's
    bottom anchor lands in A's bottom-m with P = 1-(1-f)^m (m=16, f=0.2 →
    0.97). Docs sharing ANY bottom-m hash become candidates, through the
    same ``bucket_pairs`` generator as the LSH bands — hot anchors are
    NOT dropped (boilerplate-heavy corpora put the most-contained pages
    in exactly those anchors) but sharded over ~(sz/cap)² tasks. The
    pair set comes back eagerly checkpointed.
    """
    anchors = signatures.select(
        "url", F.explode(F.slice("sketch", 1, n_anchors)).alias("anchor")
    )
    return bucket_pairs(anchors, ["anchor"], cfg.bucket_cap)


def containment_pairs(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    containment_threshold: float = 0.9,
) -> DataFrame:
    """candidates(url_a, url_b) → pairs with sketch-containment score.

    Reference analog J4: rkmh hpv16 compares the read's FULL hash set
    against sketches (rkmh.cpp:2666-2678); with only bottom-k sketches at
    hand, the threshold-restricted estimator above is the unbiased
    equivalent."""
    sig = signatures.select("url", "sketch")
    joined = (
        candidates.join(
            sig.select(F.col("url").alias("url_a"), F.col("sketch").alias("sketch_a")),
            "url_a",
        ).join(
            sig.select(F.col("url").alias("url_b"), F.col("sketch").alias("sketch_b")),
            "url_b",
        )
    )
    scored = joined.withColumn(
        "containment", _containment_udf("sketch_a", "sketch_b")
    )
    return scored.where(
        F.col("containment") >= containment_threshold
    ).select("url_a", "url_b", "containment")


def confirm_substring(contained: DataFrame, pages: DataFrame) -> DataFrame:
    """Exact confirmation: shorter text occurs verbatim in the longer.

    → (url_a, url_b, containment, contained_url, container_url) for
    confirmed pairs only.
    """
    t = pages.select("url", F.col("text").alias("__t"))
    joined = (
        contained.join(
            t.select(F.col("url").alias("url_a"), F.col("__t").alias("text_a")),
            "url_a",
        ).join(
            t.select(F.col("url").alias("url_b"), F.col("__t").alias("text_b")),
            "url_b",
        )
    )
    a_shorter = F.length("text_a") <= F.length("text_b")
    confirmed = joined.withColumn(
        "is_substring",
        F.when(a_shorter, F.col("text_b").contains(F.col("text_a"))).otherwise(
            F.col("text_a").contains(F.col("text_b"))
        ),
    ).where(F.col("is_substring"))
    return confirmed.select(
        "url_a",
        "url_b",
        "containment",
        F.when(a_shorter, F.col("url_a")).otherwise(F.col("url_b")).alias("contained_url"),
        F.when(a_shorter, F.col("url_b")).otherwise(F.col("url_a")).alias("container_url"),
    )
