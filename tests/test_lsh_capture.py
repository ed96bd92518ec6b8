"""LSH capture bound: the banded OPH minhash of the flagship catches a pair
of true set Jaccard j with probability ``cfg.lsh_capture_probability(j)``
= 1-(1-j^r)^b. NumPy only, no Spark, seeded.

Each level plants pairs of u64 shingle sets (shared part plus two
disjoint private parts of equal size, so |A| = |B| and J = s/(s+2m)
exactly), sketches both with ``oph_minhash`` at K = b·r bins and counts
the pairs with at least one equal band of r bins.

The formula holds for sets of at least K shingles, and the test asserts
it there. On shorter sets, densification fills empty bins by copying
filled ones, so the bins of a band are correlated and the formula
overstates capture. Measured with this module's planting (3,000 pairs per
level, seed 11), empirical minus formula:
- |A| = K/4: TEST_CONFIG (K = 288) −0.042 / −0.029 / −0.031 / −0.014 at
  j ≈ 0.30 / 0.35 / 0.40 / 0.50; DedupConfig() (K = 128) −0.053 / −0.041
  / −0.023 at j ≈ 0.39 / 0.49 / 0.60, and 0 at j ≈ 0.78 (capture 1.0).
- |A| = K/2: within 0.010 for TEST_CONFIG; DedupConfig() −0.026 at
  j ≈ 0.41, within 0.002 from j ≈ 0.5.
- |A| = 3K/4: within 0.010 at every level, as at |A| ≥ K.
So a short page loses up to about five points of capture at levels below
the threshold. At the 0.8 default threshold capture stays 1.0 at every
size measured, and at TEST_CONFIG's 0.5 it is 0.977 at K/4 against 0.990.
"""

from __future__ import annotations

import numpy as np
import pytest

from rkmh_spark.config import TEST_CONFIG, DedupConfig
from rkmh_spark.functions.shingles import oph_minhash

N_PAIRS = 1000


def _plant(rng, n_a: int, j: float):
    """Two sorted u64 sets of n_a values each with Jaccard close to j;
    returns (a, b, exact Jaccard)."""
    s = int(round(2 * j * n_a / (1 + j)))
    m = n_a - s
    vals = np.unique(rng.integers(1, 2**64, size=s + 2 * m + 64, dtype=np.uint64))
    vals = rng.permutation(vals)[: s + 2 * m]
    a = np.sort(vals[: s + m])
    b = np.sort(np.concatenate([vals[:s], vals[s + m :]]))
    return a, b, s / (s + 2 * m)


def _captured(a, b, cfg: DedupConfig) -> bool:
    eq = oph_minhash(a, cfg.num_perms) == oph_minhash(b, cfg.num_perms)
    return bool(eq.reshape(cfg.num_bands, cfg.band_rows).all(axis=1).any())


@pytest.mark.parametrize(
    "cfg,levels",
    [
        (TEST_CONFIG, (0.3, 0.35, 0.4, 0.5)),
        (DedupConfig(), (0.4, 0.5, 0.6, 0.8)),
    ],
    ids=["test_config", "default"],
)
@pytest.mark.parametrize("size_in_k", [1, 4])
def test_capture_matches_formula_for_sets_of_at_least_k(cfg, levels, size_in_k):
    rng = np.random.default_rng(2026)
    n_a = size_in_k * cfg.num_perms
    for level in levels:
        hits = 0
        for _ in range(N_PAIRS):
            a, b, j = _plant(rng, n_a, level)
            hits += _captured(a, b, cfg)
        p = cfg.lsh_capture_probability(j)
        # four binomial standard errors plus one pair of slack
        bound = 4 * np.sqrt(p * (1 - p) / N_PAIRS) + 1 / N_PAIRS
        assert abs(hits / N_PAIRS - p) <= bound, (level, j, hits / N_PAIRS, p)
