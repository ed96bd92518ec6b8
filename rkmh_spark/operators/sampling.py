"""Deterministic stratified sampling and mixture weighting — the
training-data mixing stage: downsample over-represented strata
(language, domain, source) and up-weight scarce ones to hit a target
mixture, reproducibly.

Mechanism: a content-keyed uniform. ``u = md5(key)[:8]`` is 8 lowercase
hex chars; comparing that STRING against a precomputed 8-hex-digit
threshold is exactly the numeric comparison ``hash/2^32 < rate`` (hex is
fixed-width lowercase, so lexicographic == numeric) while staying
engine-portable — md5 of the same bytes is identical everywhere, which
is what lets the DuckDB oracle replay the decision bit-for-bit.

Why not ``rand()``/``df.sample``: those are seeded per-partition, so the
keep-set changes with partitioning, task retries, and cluster size. A
content-keyed hash decision is a pure projection — zero shuffle, stable
under AQE re-planning and speculative execution, and a re-run over a
re-partitioned 100 TB corpus selects byte-identical rows. (House rule
from round 1: no nondeterminism on data paths.)

``stratified_sample`` filters (map-only). ``weighted_mixture``
replicates rows ``floor(w) + Bernoulli(frac(w))`` times per stratum
(the standard epoch-mixing spelling) — still map-only: row expansion
happens in-place via posexplode, no shuffle; downstream shuffles see
the already-expanded stream.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _u_hex(key: Column, salt: str) -> Column:
    """Per-operator salt: composed stages over the same key column must
    draw INDEPENDENT uniforms — unsalted, a mixture stage downstream of
    a sampling stage would hand its Bernoulli copy to exactly the rows
    the sampler kept (u already < threshold), realizing weight
    floor(w)+1 instead of w (review r5)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 8
    )


def _thresh_hex(p: float) -> str:
    """p in (0,1) → the 8-hex threshold t with P[u < t] = p (up to
    1/2^32 quantization)."""
    return f"{min(max(int(p * 2**32), 0), 2 ** 32 - 1):08x}"


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its ``lang`` stratum's probability, decided by
    the row's own ``doc_id`` hash. Strata absent from ``rates`` use
    ``default_rate``. Pure projection + filter: pushes down to the scan,
    no shuffle, no rand(). The salt ``"sample"`` decorrelates the
    decision from ``weighted_mixture``'s."""
    u = _u_hex(F.col("doc_id"), "sample")

    def _keep(p: float) -> Column:
        if p >= 1.0:
            return F.lit(True)
        if p <= 0.0:
            return F.lit(False)
        return u < F.lit(_thresh_hex(p))

    keep = _keep(default_rate)
    for s, r in sorted(rates.items()):
        keep = F.when(F.col("lang") == s, _keep(r)).otherwise(keep)
    return df.where(keep)


def weighted_mixture(
    df: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """Replicate each row ``floor(w) + (u < frac(w))`` times for its
    ``lang`` stratum weight w ≥ 0 (w<1 subsamples, w>1 upsamples; strata
    absent from ``weights`` keep w = 1; expectation is exactly w per row
    — the salt ``"mix"`` differs from stratified_sample's, so a
    sample→mix pipeline draws independent uniforms). Adds ``copy`` =
    0..n-1 so downstream shuffles and dedup keys can distinguish copies.
    Map-only expansion."""
    u = _u_hex(F.col("doc_id"), "mix")

    def _n(w: float) -> Column:
        base = int(math.floor(w))
        frac = w - base
        n = F.lit(base)
        if frac > 0:
            n = n + (u < F.lit(_thresh_hex(frac))).cast("int")
        return n

    factor = _n(1.0)
    for s, w in sorted(weights.items()):
        factor = F.when(F.col("lang") == s, _n(w)).otherwise(factor)
    out = df.withColumn("_n_copies", factor).select(
        "*",
        F.posexplode(F.array_repeat(F.lit(1), F.col("_n_copies"))).alias(
            "copy", "_one"
        ),
    )
    return out.drop("_one", "_n_copies")
