"""Shingling + bottom-s MinHash sketch kernels (pure NumPy, Arrow-batch ready).

Reference semantics being reproduced (SURVEY.md §7.1):

- shingling = all overlapping k-byte substrings of the utf-8 text, the text
  analog of rkmh's k-mer enumeration (kmerize call sites
  /root/reference/src/rkmh.cpp:2228).
- hash = murmur3_x64_128 seed 42, low 64 bits
  (/root/reference/src/rkmh.cpp:493-497); forward-only for text (no
  reverse-complement canonicalization).
- sketch = the s smallest hashes of the sorted hash MULTISET — duplicates
  kept, zero-sentinels skipped — matching the open-coded bottom-s loops at
  /root/reference/src/rkmh.cpp:1236-1239,1277-1283.

u64/i64 note: Spark has no unsigned type. Sketches are computed and ordered
in uint64 space, then reinterpreted (bit-cast) to int64 for storage in
``array<long>`` columns. Every comparison that depends on magnitude happens
BEFORE the cast (SURVEY.md §7.4 risk 2).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from rkmh_spark.functions.murmur3 import murmur3_x64_128_low64

# Shingles per murmur chunk of hash_texts (see its docstring).
MAX_CHUNK_SHINGLES = 1 << 17


def shingle_matrix(text: str, k: int) -> np.ndarray:
    """All overlapping k-byte shingles of utf-8 ``text`` as an (N, k) uint8 view."""
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if raw.size < k:
        return np.empty((0, k), dtype=np.uint8)
    return sliding_window_view(raw, k)


def shingle_hashes(
    text: str, k: int | tuple[int, ...], seed: int = 42
) -> np.ndarray:
    """(N,) uint64 hash per shingle position (rkmh calc_hashes analog).

    Position-aligned like the reference's hash arrays; the reference writes
    sentinel 0 for invalid k-mers — text has no invalid shingles, but a
    genuine hash value of 0 is still dropped at sketch time for parity.

    ``k`` may be a tuple of sizes: the reference's multi-k mode
    (``-k 12 -k 14``) hashes every k size and CONCATENATES the per-k hash
    arrays into one multiset before sketching
    (/root/reference/src/rkmh.cpp:296-303 — calc_hashes loops kmer sizes
    and appends).
    """
    if isinstance(k, int):
        return murmur3_x64_128_low64(shingle_matrix(text, k), seed=seed)
    parts = [
        murmur3_x64_128_low64(shingle_matrix(text, kk), seed=seed) for kk in k
    ]
    return (
        np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
    )


def bottom_s_sketch(hashes: np.ndarray, s: int) -> np.ndarray:
    """Bottom-s of the hash multiset in uint64 order, ascending; dups kept.

    Zero sentinels are skipped (/root/reference/src/rkmh.cpp:1233-1235).
    Uses O(n) partition + sort of the surviving s values.
    """
    h = hashes[hashes != 0]
    if h.size > s:
        h = np.partition(h, s - 1)[:s]
    return np.sort(h)


def sketch_text(text: str, k: int, s: int, seed: int = 42) -> np.ndarray:
    """text → sorted bottom-s sketch as int64 (bit-cast for Spark storage)."""
    return bottom_s_sketch(shingle_hashes(text, k, seed), s).view(np.int64)


def hash_texts(
    texts, k: int | tuple[int, ...], seed: int = 42
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Yield ``(bounds, hashes)`` chunks covering ``texts`` in order.

    The one loop that turns page text into murmur hashes (the analog of
    the reference's calc_hashes loop, rkmh.cpp:845-860): every document
    lands whole in exactly one chunk, and a chunk's
    ``hashes[bounds[j]:bounds[j+1]]`` equals ``shingle_hashes`` of its j-th
    document. ``None`` reads as ``""``. A tuple ``k`` (reference multi-k,
    rkmh.cpp:296-303) concatenates each document's per-k arrays in k order.

    Each chunk is one vectorized murmur call per k width over the stacked
    shingle matrices of its documents, closed once it holds at least
    ``MAX_CHUNK_SHINGLES`` shingles: stacking a whole 2048-doc batch of
    multi-KB pages produced ~GB-scale numpy temporaries whose
    allocation/page-fault churn made the stage 7x slower than the same
    work in cache-sized chunks (measured at 48k x 4KB docs).
    """
    ks = (k,) if isinstance(k, int) else tuple(k)
    mats: list[list[np.ndarray]] = [[] for _ in ks]
    total = 0
    for t in texts:
        for kk, per_k in zip(ks, mats):
            per_k.append(shingle_matrix(t if t is not None else "", kk))
            total += per_k[-1].shape[0]
        if total >= MAX_CHUNK_SHINGLES:
            yield _hash_chunk(mats, seed)
            mats, total = [[] for _ in ks], 0
    if mats[0]:
        yield _hash_chunk(mats, seed)


def _hash_chunk(mats: list[list[np.ndarray]], seed: int):
    """Per-k lists of shingle matrices → (bounds, per-document hashes)."""
    counts = np.array([[m.shape[0] for m in per_k] for per_k in mats])
    hashes = np.concatenate(
        [murmur3_x64_128_low64(np.vstack(per_k), seed=seed) for per_k in mats]
    )
    if len(mats) > 1:  # k-major blocks → document-major, k order kept
        doc = np.tile(np.arange(counts.shape[1]), len(mats))
        hashes = hashes[np.argsort(np.repeat(doc, counts.ravel()), kind="stable")]
    bounds = np.zeros(counts.shape[1] + 1, dtype=np.int64)
    np.cumsum(counts.sum(axis=0), out=bounds[1:])
    return bounds, hashes


def sketch_texts_batch(
    texts,
    k: int | tuple[int, ...],
    s: int,
    seed: int = 42,
    keep: Callable[[np.ndarray], np.ndarray] | None = None,
    num_bins: int | None = None,
):
    """Sketch a whole Arrow batch of texts over ``hash_texts`` chunks, then
    take per-document bottom-s.

    ``keep``: optional keep mask over uint64 hashes — a callable mapping a
    hash array to a same-length bool array; hashes it rejects are removed
    BEFORE bottom-s selection (the Count-Min ``-M`` filter,
    rkmh.cpp:1256-1267). It is called once per murmur chunk, not once per
    document.

    ``num_bins``: when given, also returns per-doc K-wide OPH minhash
    vectors for LSH banding (computed from the SAME sorted hash array the
    bottom-s sketch uses — one sort serves both signatures).

    Returns (sketches: list[int64 array], minhashes: list[int64]|None,
    n_shingles: int64 array).
    """
    sketches: list = []
    minhashes: list | None = [] if num_bins is not None else None
    counts = [np.empty(0, dtype=np.int64)]
    for bounds, hashes in hash_texts(texts, k, seed):
        counts.append(np.diff(bounds))
        live = hashes != 0
        if keep is not None:
            live &= keep(hashes)
        ends = bounds.tolist()
        for a, z in zip(ends, ends[1:]):
            hs = np.sort(hashes[a:z][live[a:z]])
            sketches.append(hs[:s].view(np.int64))
            if minhashes is not None:
                minhashes.append(oph_minhash(hs, num_bins))
    return sketches, minhashes, np.concatenate(counts)


_DENSIFY_C = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_DENSIFY_A = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 finalizer constant


def oph_minhash(sorted_hashes: np.ndarray, num_bins: int) -> np.ndarray:
    """One-Permutation-Hashing minhash vector (K bins) from SORTED hashes.

    Classic K-permutation minhash costs O(n*K) mixing per document — at
    K=144 that is ~100x the murmur cost and left the signature stage
    memory-bandwidth-bound. OPH (Li/Owen/Zhang 2012) hashes each shingle
    ONCE: bin = h mod K, signature[bin] = min h in bin — O(n) after the
    sort the bottom-s sketch needs anyway.

    Empty bins take OPTIMAL densification (Shrivastava, ICML'17 — public
    algorithm): each empty bin borrows from an independent hash-random
    sequence of bins, retrying until it lands on a filled one. r1 used
    ROTATION densification (next-filled-bin + distance offset), which
    fills CONSECUTIVE empty bins from the SAME source minimum; since
    bands are consecutive r-bin slices, a band of densified bins collided
    with probability ≈ J instead of J^r, and short documents
    (n_shingles < K) exploded the candidate set — measured 408,893
    candidate pairs for 5,000 sf0.1 docs vs 6,635 after the switch (62×),
    identical capture theory. Deterministic: the retry sequence is a
    fixed hash of (bin, attempt).

    Input must be ascending uint64 with zero-sentinels removed; returns
    (K,) int64 bit-cast. Empty input → empty vector (depth-filter F1).
    """
    if sorted_hashes.size == 0:
        return np.empty(0, dtype=np.int64)
    k = np.uint64(num_bins)
    bins = (sorted_hashes % k).astype(np.int64)
    present, first_idx = np.unique(bins, return_index=True)
    vals = np.zeros(num_bins, dtype=np.uint64)
    filled = np.zeros(num_bins, dtype=bool)
    vals[present] = sorted_hashes[first_idx]  # ascending → first = min
    filled[present] = True
    if present.size < num_bins:
        src = np.full(num_bins, -1, dtype=np.int64)
        pending = np.flatnonzero(~filled)
        attempt = np.uint64(1)
        with np.errstate(over="ignore"):  # uint64 wraparound is the mixer
            while pending.size:
                j = (
                    (pending.astype(np.uint64) * _DENSIFY_A + attempt * _DENSIFY_C)
                    >> np.uint64(33)
                ) % k
                j = j.astype(np.int64)
                hit = filled[j]
                src[pending[hit]] = j[hit]
                pending = pending[~hit]
                attempt += np.uint64(1)
        empty_pos = ~filled
        vals[empty_pos] = vals[src[empty_pos]]
    return vals.view(np.int64)


def multiset_intersection_size(a: np.ndarray, b: np.ndarray) -> int:
    """|a ∩ b| with multiplicity — rkmh hash_intersection_size parity.

    The reference merge-counts two sorted arrays counting duplicate matches
    (call sites /root/reference/src/rkmh.cpp:869,922; SURVEY.md §7.4 risk 1).
    Computed as sum over distinct values of min(count_a, count_b). Inputs may
    be int64 bit-cast sketches; comparison is value-equality so signedness
    does not matter.
    """
    if a.size == 0 or b.size == 0:
        return 0
    va, ca = np.unique(a, return_counts=True)
    vb, cb = np.unique(b, return_counts=True)
    ia = np.isin(va, vb, assume_unique=True)
    if not ia.any():
        return 0
    ib = np.isin(vb, va, assume_unique=True)
    return int(np.minimum(ca[ia], cb[ib]).sum())
