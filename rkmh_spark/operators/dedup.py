"""End-to-end near-duplicate detection pipeline (the flagship dataflow).

pages → signatures [-I/-M frequency filters] → LSH candidates →
exact verification → connected components → assignments(url, cluster_id).

Mirrors rkmh stream/classify's lifecycle (/root/reference/src/rkmh.cpp:584-948)
with the all-pairs comparison replaced by LSH (SURVEY.md §3.1).

This module is the only place the stage sequence is written: the
checkpointed run is ``dedup_pages(..., checkpoint=mgr)``, and the
incremental stream and its compaction reuse ``assign_clusters``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.components import connected_components
from rkmh_spark.operators.lsh import band_buckets, candidate_pairs
from rkmh_spark.operators.signatures import (
    compute_signatures,
    compute_signatures_min_occ,
)
from rkmh_spark.operators.verify import brute_force_pairs, verify_pairs

if TYPE_CHECKING:
    from rkmh_spark.plans.checkpoint import CheckpointManager


def keep_representatives(pages: DataFrame, assignments: DataFrame) -> DataFrame:
    """S8 graft role ('filter' sink, /root/reference/src/rkmh.cpp:1298-1310):
    re-emit only the pages that pass — here, one representative per cluster
    (the min-url member, which IS the cluster id under the min-label rule).
    """
    return pages.join(
        assignments.where(F.col("url") == F.col("cluster_id")).select("url"),
        "url",
        "left_semi",
    )


@dataclass
class DedupResult:
    """``signatures`` and ``pairs`` are persisted, and the result is their
    one owner: ``release()`` unpersists both. ``assignments`` reads
    neither, so it stays valid after the release."""

    signatures: DataFrame
    pairs: DataFrame          # verified dup pairs (url_a, url_b, shared, est_jaccard)
    assignments: DataFrame    # (url, cluster_id)

    def release(self) -> None:
        self.signatures.unpersist()
        self.pairs.unpersist()


def assign_clusters(
    urls: DataFrame,
    edges: DataFrame,
    cfg: DedupConfig,
    n_edges: int | None = None,
    relabel: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The pipeline's shared tail: verified edges(url_a, url_b) →
    connected components → (url, cluster_id) for every url in ``urls``;
    a url in no edge is its own cluster (min-url label rule).

    ``relabel`` maps the component labels(node, label) before the join —
    the incremental stream uses it to inherit older cluster ids.
    """
    labels = connected_components(
        edges, cfg.max_cc_iterations, n_edges=n_edges,
        driver_threshold=cfg.cc_driver_threshold,
    )
    if relabel is not None:
        labels = relabel(labels)
    return (
        urls.join(labels.withColumnRenamed("node", "url"), "url", "left")
        .select("url", F.coalesce("label", "url").alias("cluster_id"))
    )


def dedup_pages(
    pages: DataFrame,
    cfg: DedupConfig,
    use_lsh: bool = True,
    containment_threshold: float | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DedupResult:
    """Run the full dedup pipeline; ``use_lsh=False`` = exhaustive verify
    (the reference's own mechanism, for fixtures/recall oracles).

    ``containment_threshold``: when set, LSH candidates additionally go
    through the containment pass (Broder threshold-restricted estimate →
    exact substring confirmation against the page texts) and confirmed
    asymmetric dups become extra edges for clustering — catches
    truncation/mirror-with-chrome dups whose symmetric Jaccard is low.

    ``checkpoint``: when given, each stage (signatures, candidates, pairs,
    assignments) is written through ``checkpoint.stage`` and a re-run
    skips every stage whose manifest is complete, so a killed run resumes
    with the same assignments (tests/test_resume.py). Without it each
    stage's build runs directly.

    Cache ownership (the one rule: whoever calls ``persist()`` releases
    it in a ``finally`` or hands the handle to exactly one owner): the
    LSH census goes to a local ``cleanup`` list and is released right
    after the pairs ``count``; the persisted ``signatures`` and ``pairs``
    go to the returned result, whose ``release()`` frees them. The
    ``assignments`` never read either relation once this returns — the
    driver union-find labels are a local Arrow relation, the distributed
    paths return checkpointed labels, and the containment and
    ``checkpoint`` paths are materialized here — so a caller that needs
    only the assignments may release at once.
    """

    def run(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if checkpoint is None:
            return build()
        return checkpoint.stage(pages.sparkSession, name, build)

    to_unpersist: list = []

    def signatures() -> DataFrame:
        if cfg.min_occ is None and cfg.max_doc_freq is None:
            return compute_signatures(pages, cfg)
        # rkmh -M / -I: corpus-wide counts, one relational pass
        return compute_signatures_min_occ(pages, cfg)

    def assignments() -> DataFrame:
        edges = pairs.select("url_a", "url_b")
        if containment_threshold is None or cands is None:
            return assign_clusters(pages.select("url"), edges, cfg, n_pairs)
        from rkmh_spark.operators.containment import (
            confirm_substring,
            containment_candidates,
            containment_pairs,
        )

        # asymmetric dups need their own candidates: symmetric-Jaccard
        # banding misses them by construction (see containment_candidates)
        ccands = cands.unionByName(
            containment_candidates(sigs, cfg)
        ).distinct()
        contained = containment_pairs(ccands, sigs, cfg, containment_threshold)
        confirmed = confirm_substring(contained, pages)
        edges = edges.unionByName(
            confirmed.select("url_a", "url_b")
        ).distinct()
        return assign_clusters(pages.select("url"), edges, cfg)

    cands = pairs = None
    sigs = run("signatures", signatures).persist()
    try:
        if use_lsh:
            # containment path reads candidates twice → eager checkpoint
            # (no cleanup list); plain dedup consumes them once → lazy,
            # with the census persist handed to to_unpersist
            cands = run(
                "candidates",
                lambda: candidate_pairs(
                    band_buckets(sigs, cfg), cfg,
                    cleanup=to_unpersist if containment_threshold is None else None,
                ),
            )
            pairs = run("pairs", lambda: verify_pairs(cands, sigs, cfg))
        else:
            pairs = run("pairs", lambda: brute_force_pairs(sigs, cfg))

        # ONE count job both materializes the persisted pairs and hands the
        # edge count to connected_components (skips its limit().count() job)
        pairs = pairs.persist()
        n_pairs = pairs.count()
        for h in to_unpersist:
            h.unpersist()
        return DedupResult(
            signatures=sigs, pairs=pairs, assignments=run("assignments", assignments)
        )
    except BaseException:
        # no result owns the persists yet
        for h in [sigs, pairs, *to_unpersist]:
            if h is not None:
                h.unpersist()
        raise
