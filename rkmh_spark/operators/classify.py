"""Per-page classification against a reference panel — rkmh stream/classify
semantics (/root/reference/src/rkmh.cpp:845-898) as DataFrame ops.

For every query page: compare its sketch against every reference sketch,
take the argmax of shared hashes, report the runner-up gap, and apply the
reference's three filters as BOOLEAN columns (not string suffixes —
SURVEY.md §1.1 classification record):

  fail_depth   — sketch too small        (F1, rkmh.cpp:888)
  fail_matches — best shared < min_matches (F2, rkmh.cpp:889)
  fail_diff    — best-second <= min_diff   (F3, rkmh.cpp:887)

Mechanism: the panel is assumed small enough to broadcast (the reference
holds it resident in shared memory, rkmh.cpp:813-838 — same assumption);
candidate generation goes through the panel's LSH bands so only plausible
references are verified, then a window argmax picks the best. For a panel
too large to band-join cheaply, use the dedup pipeline instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.lsh import band_buckets
from rkmh_spark.operators.verify import shared_count, with_repeats


def _scored_sides(
    query_sigs: DataFrame, ref_sigs: DataFrame
) -> tuple[DataFrame, DataFrame, Column]:
    """(url, q_sketch, q_rep), (ref, r_sketch, r_rep) — both sides with
    their per-document repeated-value structs — and the multiset shared
    count of a joined (query, reference) row."""
    q = with_repeats(
        query_sigs.select(F.col("url"), F.col("sketch").alias("q_sketch")),
        "q_sketch", "q_rep",
    )
    r = with_repeats(
        ref_sigs.select(F.col("url").alias("ref"), F.col("sketch").alias("r_sketch")),
        "r_sketch", "r_rep",
    )
    return q, r, shared_count("q_sketch", "q_rep", "r_sketch", "r_rep")


def classify_pages(
    query_sigs: DataFrame,
    ref_sigs: DataFrame,
    cfg: DedupConfig,
    exhaustive: bool = False,
) -> DataFrame:
    """→ (url, best_ref, shared, second_shared, est_jaccard, fail_*).

    ``query_sigs``/``ref_sigs``: output of compute_signatures (url, sketch,
    minhash, n_shingles). ``exhaustive=True`` reproduces the reference's
    full nested-loop comparison (for parity tests); default goes through
    LSH bands (same result when capture probability ~1 at the match level).
    """
    q, r, pair_shared = _scored_sides(query_sigs, ref_sigs)

    if exhaustive:
        cand = q.crossJoin(F.broadcast(r))
    else:
        qb = band_buckets(query_sigs, cfg)
        rb = band_buckets(
            ref_sigs.select(F.col("url"), "sketch", "minhash"), cfg
        ).withColumnRenamed("url", "ref")
        pairs = (
            qb.join(F.broadcast(rb), ["band_id", "band_hash"])
            .select("url", "ref")
            .distinct()
        )
        cand = pairs.join(q, "url").join(F.broadcast(r), "ref")

    scored = cand.select(
        "url",
        "ref",
        pair_shared.alias("shared"),
        F.size("q_sketch").alias("q_len"),
        F.size("r_sketch").alias("r_len"),
    )

    w = Window.partitionBy("url").orderBy(F.desc("shared"), F.asc("ref"))
    ranked = (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("second_shared", F.lead("shared", 1).over(w))
        .where(F.col("rk") == 1)
        .select("url", "ref", "shared", "second_shared", "r_len")
    )

    # The reference emits a record for EVERY read — reads matching nothing
    # come out with FAIL:MATCHES, they do not vanish (rkmh.cpp:887-898). In
    # the LSH path a query whose bands collide with no reference produces
    # no candidate rows, so left-join the winners back onto all query urls
    # and let shared default to 0 (ADVICE r1).
    base = query_sigs.select("url", F.size("sketch").alias("q_len"))
    joined = base.join(ranked, "url", "left")
    shared = F.coalesce("shared", F.lit(0))
    second = F.coalesce("second_shared", F.lit(0))
    return joined.select(
        "url",
        F.col("ref").alias("best_ref"),  # NULL when nothing collided
        shared.alias("shared"),
        second.alias("second_shared"),
        F.round(
            shared
            / F.greatest(  # empty sketch (fail_depth) → denom 1, shared 0
                F.least(
                    F.lit(cfg.sketch_size),
                    F.col("q_len"),
                    F.coalesce("r_len", F.lit(cfg.sketch_size)),
                ),
                F.lit(1),
            ),
            6,
        ).alias("est_jaccard"),
        (F.col("q_len") <= F.lit(cfg.min_matches)).alias("fail_depth"),
        (shared < F.lit(cfg.min_matches)).alias("fail_matches"),
        ((shared - second) <= F.lit(cfg.min_diff)).alias("fail_diff"),
    )


def ranked_similarity(
    query_sigs: DataFrame, ref_sigs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """J3/T4: the full similarity-ranked reference list per query
    (sort_by_similarity, /root/reference/src/rkmh.cpp:2688-2701)."""
    q, r, pair_shared = _scored_sides(query_sigs, ref_sigs)
    scored = (
        q.crossJoin(F.broadcast(r))
        .withColumn("shared", pair_shared)
        .withColumn(
            "sim",
            F.round(
                F.col("shared")
                / F.greatest(
                    F.least(
                        F.lit(cfg.sketch_size),
                        F.size("q_sketch"),
                        F.size("r_sketch"),
                    ),
                    F.lit(1),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("url").orderBy(F.desc("sim"), F.asc("ref"))
    return scored.select(
        "url", "ref", "shared", "sim", F.rank().over(w).alias("rnk")
    )
