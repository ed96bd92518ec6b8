"""Pipeline configuration.

Defaults mirror the reference CLI defaults so that golden tests can pin
parity: k=16 (/root/reference/src/rkmh.cpp:728-731), sketch_size=1000
(/root/reference/src/rkmh.cpp:722-726), murmur3_x64_128 seed 42
(/root/reference/src/rkmh.cpp:493-497).

Hashing is forward-only: for web text, reverse-complement
canonicalization is meaningless, so there is no ``canonical`` switch (the
one deliberate delta vs the reference; see SURVEY.md §7.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- sketching (reference parity knobs) ---
    # k: shingle size in BYTES of utf-8 text; a TUPLE enables the
    # reference's multi-k mode (-k 12 -k 14: per-k hash arrays are
    # concatenated into one multiset before sketching, rkmh.cpp:296-303)
    k: int | tuple[int, ...] = 16
    sketch_size: int = 1000     # bottom-s sketch size ("-s" in rkmh)
    hash_seed: int = 42         # murmur3 seed (src/rkmh.cpp:493-497)

    # --- frequency filters (rkmh -I / -M analogs) ---
    max_doc_freq: int | None = None   # drop shingles present in > this many docs (A2/F5)
    min_occ: int | None = None        # keep hash iff global count >= this (F4)

    # --- LSH banding (over K = num_bands*band_rows independent minhashes) ---
    num_bands: int = 32         # b ; capture prob = 1-(1-j^r)^b
    band_rows: int = 4          # r ; K=128: capture 0.954 at j=0.55, ≥ 0.999 from j≈0.67
    bucket_cap: int = 200       # census cap before salting a hot bucket

    # --- verification ---
    jaccard_threshold: float = 0.8   # est-Jaccard = shared / sketch_size >= tau
    min_matches: int = 1             # F2: best shared < N → FAIL:MATCHES
    min_diff: int = 0                # F3: best-second <= D → ambiguous

    # --- clustering ---
    max_cc_iterations: int = 20
    # edge count below which connected-components runs a one-collect driver
    # union-find instead of the iterative distributed loop. The collect is
    # Arrow-dictionary-encoded BEFORE anything reaches Python
    # (_driver_union_find): the driver holds two int64 edge arrays
    # (2M edges → 32 MB) plus one Arrow string array of the distinct urls
    # (~60 B/url → ~100-200 MB at worst-case 2M distinct nodes) — bounded
    # and safe on any production driver; the distributed loop's per-round
    # fixed job latency dominates far past this size
    cc_driver_threshold: int = 2_000_000

    @property
    def num_perms(self) -> int:
        """K — width of the independent-minhash vector used for banding."""
        return self.num_bands * self.band_rows

    def lsh_capture_probability(self, jaccard: float) -> float:
        """P(candidate) for a pair at the given true Jaccard: 1-(1-j^r)^b."""
        return 1.0 - (1.0 - jaccard**self.band_rows) ** self.num_bands


# A small config used across unit tests/fixtures: documents in the synthetic
# corpora are short (~128 chars), so a small k and s keep sketches meaningful.
# b=72, r=4 → capture at j=0.5 is 1-(1-0.5^4)^72 ≈ 0.9905 (≥0.99 gate), while
# the corpus-baseline pairs (median j≈0.06, p99≈0.19 on the testdata
# documents) almost never become candidates — r=2 made 64% of random pairs
# plausible candidates, r=4 cuts that to 2%.
TEST_CONFIG = DedupConfig(
    k=8,
    sketch_size=64,
    num_bands=72,
    band_rows=4,
    jaccard_threshold=0.5,
)
