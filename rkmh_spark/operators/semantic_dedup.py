"""SemDeDup-style semantic deduplication over an embedding column.

Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540) removes
documents whose EMBEDDINGS nearly coincide even when their text differs —
the layer above MinHash (lexical) and exact-hash (byte) dedup in a
training-data pipeline. Reference analog: the same shape as rkmh's
classify argmax (J2, /root/reference/src/rkmh.cpp:867-889) — per item,
find the most-similar prior item and act on a threshold — but applied
reflexively to the corpus instead of against a panel.

Decision rule (deterministic, order-free, parallel-safe):

    drop(i)  ⇔  ∃ j with id(j) < id(i) and cosine(i, j) ≥ τ
    dup_of(i) = min such j          (NULL for kept rows)

This is the non-transitive spelling: every ε-ball keeps exactly its
min-id member, and a chain a~b~c with a≁c keeps {a} and drops {b → a,
c → b}. The rule references raw ids, never survivor status, so it has
no sequential dependency — unlike the greedy "drop if similar to a KEPT
row" variant, which is inherently serial and cannot scale out. For
transitive semantics, feed the pairs into
``operators.components.connected_components`` instead (the MinHash
pipeline already does exactly that).

Scale posture: the work is entirely in candidate-pair generation, which
this module does NOT redo — it accepts any (id_a, id_b, cosine) pair
set. The exact O(n²) generator (``embedding_near_dup_pairs``) is the
small-scale/oracle baseline; at 10^12 rows pass LSH-bucketed pairs
(``embedding_near_dup_pairs_lsh``, census/cap/salted) or IVF-cluster-
scoped pairs. Given pairs, the decision is ONE groupBy(id_b).min(id_a)
plus ONE left join on the id — both partial-aggregated, no skew beyond
the pair set itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.operators.similarity import embedding_near_dup_pairs


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """embeddings(vec_id, embedding) -> (vec_id, dup_of, keep):
    min-id-representative semantic dedup.

    ``pairs``: optional precomputed candidate pairs (id_a, id_b, cosine)
    with id_a < id_b — pass the LSH/IVF-bucketed pair set at scale. When
    omitted, exact O(n²) pairs are computed (correctness baseline; fine
    for fixtures and oracles, wrong at web scale).

    Every input row is reported (audit-friendly): kept rows carry
    dup_of = NULL, keep = true.
    """
    if pairs is None:
        pairs = embedding_near_dup_pairs(embeddings, threshold=threshold)
    # defensive orientation normalization (ADVICE r5): an externally
    # supplied pair set containing both orientations (or reversed pairs)
    # would otherwise let groupBy(id_b).min(id_a) pick a LATER id as
    # dup_of and drop an entire ε-ball with no kept representative. The
    # built-in generators already emit id_a < id_b, so this is a no-op
    # projection for every shipped path.
    oriented = pairs.where(F.col("cosine") >= threshold).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    dup_of = (
        oriented.groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        embeddings.select("vec_id")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )
