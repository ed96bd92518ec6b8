"""Stage 3 — exact sketch-Jaccard verification of candidate pairs.

Reference kernel: hash_intersection_size, a merge-count over two sorted
u64 sketches with multiplicity (/root/reference/src/rkmh.cpp:869,922;
equiv.hpp:308). ``F.array_intersect`` is set-semantics, so the multiset
count is rebuilt from it with an exact identity, all in JVM column
expressions (no Python UDF, nothing crosses the Arrow boundary):

    Σ_v min(c_a(v), c_b(v))
        = |set(a) ∩ set(b)| + Σ_{v ∈ R_a ∩ R_b} min(c_a(v) − 1, c_b(v) − 1)

where c_x(v) is v's multiplicity in sketch x and R_x the values that
repeat in x (every common value contributes 1 through the set term; only
values repeated on BOTH sides contribute more). R_x and c_x − 1 are
derived once per document (``with_repeats``), so the per-pair work is one
set intersection plus a fold over the common repeated values.

Acceptance (reference filters F1/F2 + threshold):
  - both sketches non-empty (depth filter, rkmh.cpp:888)
  - shared >= min_matches (match filter, rkmh.cpp:889)
  - est_jaccard = shared / min(s, |a|, |b|) >= jaccard_threshold
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rkmh_spark.config import DedupConfig


def with_repeats(df: DataFrame, sketch: str, rep: str) -> DataFrame:
    """df + ``rep`` = struct(dv, dc) of the sorted array column ``sketch``:
    ``dv`` the distinct values that occur more than once, ``dc`` their
    multiplicity − 1, aligned with ``dv``.

    Sketches are sorted (in u64 order; any total order keeps equal values
    adjacent), so the repeated values are the adjacent-equal ones, and a
    value's multiplicity − 1 is its last position minus its first.
    ``slice(sk, 2, n)`` is empty for n ≤ 1, and ``zip_with`` pads it with
    a null at the end, so the last element never pairs with a value.
    """
    sk = sketch
    dv = (
        f"array_distinct(array_compact(zip_with({sk}, slice({sk}, 2, size({sk})),"
        f" (x, y) -> IF(x = y, x, NULL))))"
    )
    dc = (
        f"transform({rep}, v -> size({sk}) + 1"
        f" - array_position(reverse({sk}), v) - array_position({sk}, v))"
    )
    return df.withColumn(rep, F.expr(dv)).withColumn(
        rep, F.struct(F.col(rep).alias("dv"), F.expr(dc).alias("dc"))
    )


def shared_count(a: str, rep_a: str, b: str, rep_b: str) -> Column:
    """Multiset |a ∩ b| of two sorted sketch columns (bigint), given their
    ``with_repeats`` columns — the identity in the module docstring."""

    def extra(rep: str) -> str:
        return f"element_at({rep}.dc, CAST(array_position({rep}.dv, v) AS INT))"

    return F.expr(
        f"size(array_intersect({a}, {b}))"
        f" + aggregate(array_intersect({rep_a}.dv, {rep_b}.dv), 0L,"
        f" (acc, v) -> acc + least({extra(rep_a)}, {extra(rep_b)}))"
    )


def verify_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(url_a, url_b) ⋈ signatures ×2 → verified pairs with shared/est_jaccard.

    One exact filter over the joined candidates. The repeated-value
    struct is built per document before the joins, so each candidate row
    carries both sides' structs and pays only the per-pair fold. The LSH
    candidate set inflates on short documents (OPH densification
    correlates bins when n_shingles < K — a small-doc artifact absent at
    real page sizes), and every candidate is scored here; in the JVM a
    rejected one costs no Arrow round trip.
    """
    sig = with_repeats(signatures.select("url", "sketch"), "sketch", "rep")

    def side(s: str) -> DataFrame:
        return sig.select(
            F.col("url").alias(f"url_{s}"),
            F.col("sketch").alias(f"sketch_{s}"),
            F.col("rep").alias(f"rep_{s}"),
        )

    joined = pairs.join(side("a"), "url_a").join(side("b"), "url_b")
    shared = shared_count("sketch_a", "rep_a", "sketch_b", "rep_b")
    denom = F.least(
        F.lit(cfg.sketch_size), F.size("sketch_a"), F.size("sketch_b")
    )
    scored = (
        joined.where((F.size("sketch_a") > 0) & (F.size("sketch_b") > 0))
        .select("url_a", "url_b", shared.alias("shared"), denom.alias("denom"))
        .withColumn("est_jaccard", F.col("shared") / F.col("denom"))
    )
    return scored.where(
        (F.col("shared") >= cfg.min_matches)
        & (F.col("est_jaccard") >= cfg.jaccard_threshold)
    ).select("url_a", "url_b", "shared", "est_jaccard")


def brute_force_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All-pairs verification — the reference's exhaustive comparison
    (/root/reference/src/rkmh.cpp:867-870) as a self-join. O(n²): fixtures
    and recall oracles only; the LSH path is the scale path.
    """
    s = signatures.select("url")
    pairs = (
        s.alias("a")
        .join(s.alias("b"), F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))
    )
    return verify_pairs(pairs, signatures, cfg)
