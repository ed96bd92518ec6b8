"""Physical-plan regression guards: the scale-path queries must never
plan a cartesian/broadcast-nested-loop join, and scans must prune columns.
(The declared-O(n²) oracle spellings — substring_pairs, embedding_dup_*
brute-force — are exempt: their theta-joins are the point.)"""

import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# two_tier_classify is exempt: its tier-1 is classify's exhaustive mode —
# a DELIBERATE broadcast nested-loop against the small resident panel,
# the reference's own mechanism (rkmh.cpp:867-870); the scale path for
# large panels is the banded default.
SCALE_PATH_QUERIES = [
    "dedup_assignments",
    "cluster_sizes",       # r5: two bounded groupBys over the assignments
    "exact_dedup_keep_first",  # r5: md5 groupBy keep-min + left-semi join
    "minhash_signatures",
    "min_occ_signatures",
    "ngram_jaccard_pairs",
    "simhash_bands",
    "containment_sketch",
    "variant_calls",
    "session_stats",
    "search_hits",
    "embedding_dup_pairs_lsh",
    "embedding_lsh_topk",
    "token_docfreq",
    "pricing_summary",
    "brand_revenue",
    "line_dedup",          # r3: CCNet line dedup — one df shuffle, no BNL
    "repetition_scores",   # Gopher signals — one map-only Arrow pass
    "embedding_ivf_topk",  # r4: sharded centroid probe join, no BNL
    "quality_filter",      # Gopher composite — projections + one Arrow pass
    # r5 additions. lm_score is exempt: its single totals row rides a
    # deliberate 1-row broadcast cross join (free at any scale — same
    # sanction class as two_tier_classify's resident panel); its
    # token joins are hash joins and covered by test_lm_score.py's gate.
    "canonical_urls",      # r5: pure projection
    "url_dedup",           # r5: one window shuffle on the canonical key
    "html_text",           # r5: pure projection
    "pii_scrub",           # r5: pure projection
    "domain_stats",        # r5: one hash-agg on host
    "stratified_sample",   # r5: map-only filter
    "weighted_mixture",    # r5: map-only posexplode
    "decontaminate",       # r5: broadcast bench join + doc-id agg
    "tfidf_scores",        # r5: max_df-bounded token join
    "crawl_delta",         # r5: one full-outer hash join on the key
    "corpus_profile",      # r5: one hash-agg on lang
    "dup_spans",           # r5: gram-count groupBy + join back + island window
    "strip_spans",         # r5: dup_spans + per-doc span array join, map-side filter
    "link_graph",          # r5: map-only extraction + one host-pair groupBy
    "anchor_texts",        # r5: map-only extraction + one (host,anchor) groupBy
    "c4_filter",           # r5: pure projection
    "semantic_dedup",      # r6: exercised path now feeds LSH-bucketed
                           # pairs (census/cap/salted) into the decision;
                           # the exact O(n²) generator remains only as
                           # the DuckDB oracle spelling
]


# entries that localCheckpoint their result before releasing the cache
# their plan reads: their final plan is a bare `Scan ExistingRDD`, which
# passes any gate. For these the gates read the plan the checkpoint runs,
# built with localCheckpoint stubbed to return the frame unchanged (the
# released cache is then replanned from source, so the gram census, the
# self-join, the containment join and the SimHash band join all show).
_EAGER_CHECKPOINT_QUERIES = {
    "ngram_jaccard_pairs", "containment_sketch", "simhash_bands"
}


def _gated_plan(spark, name, monkeypatch):
    if name in _EAGER_CHECKPOINT_QUERIES:
        monkeypatch.setattr(
            type(spark.range(1)), "localCheckpoint", lambda self, *a, **k: self
        )
    try:
        df = entry_mod.queries()[name](spark, SF)
    finally:
        monkeypatch.undo()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in _EAGER_CHECKPOINT_QUERIES:
        assert "Join" in plan, f"{name}: gate reads a checkpoint scan: {plan}"
    return plan


@pytest.mark.parametrize("name", SCALE_PATH_QUERIES)
def test_no_quadratic_join_in_plan(spark, name, monkeypatch):
    plan = _gated_plan(spark, name, monkeypatch)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


# content-derived census keys: a `count(*) over (partition by <key>)`
# window on any of these ships a hot key's whole membership to ONE
# WindowExec task (the span_dedup.py spill-bomb argument; VERDICT r5 #1).
# r6 respelled every census to groupBy + join back (lsh.bucket_census);
# this gate keeps the window spelling from creeping back. Windows
# partitioned by a PER-DOCUMENT/PER-QUERY id (doc_id, query_id, ref, user)
# are fine — one document's rows are bounded; a content bucket's are not.
_CENSUS_KEY_FRAGMENTS = [
    "band_hash",
    "band#",
    "key#",
    "ngram#",
    "_k#",
    "bucket#",
    "centroid_id#",
    "anchor#",
    "gram#",
]

# every query whose candidate generation runs a census (plus their
# consumers); ngram_jaccard_pairs is read through _gated_plan. The
# bucket_pairs census of simhash_dup_pairs/containment sits behind its
# own localCheckpoint, so the gate walks the builder functions directly
# below.
_CENSUS_QUERIES = [
    "ngram_jaccard_pairs",
    "dup_spans",
    "strip_spans",
    "line_dedup",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
]


def _assert_no_census_partition_keys(name, plan):
    """Window plan lines print as `Window [exprs], [partitionSpec],
    [orderSpec]` — only the PARTITION spec decides which rows land in one
    WindowExec task, so only it is gated (a content key in the ORDER BY
    of a per-doc window is fine)."""
    for line in plan.split("\n"):
        if "windowspecdefinition" not in line:
            continue
        m = re.search(r"\], \[([^\]]*)\], \[[^\]]*\]\s*$", line)
        part_spec = m.group(1) if m else line
        for frag in _CENSUS_KEY_FRAGMENTS:
            assert frag not in part_spec, (
                f"{name}: window census partitioned on {frag}: {line}"
            )


@pytest.mark.parametrize("name", _CENSUS_QUERIES)
def test_no_window_census_on_content_keys(spark, name, monkeypatch):
    plan = _gated_plan(spark, name, monkeypatch)
    if name == "ngram_jaccard_pairs":  # the gram census is a groupBy
        assert re.search(r"keys=\[_k#\d+L\], functions=\[count\(1\)\]", plan), name
    _assert_no_census_partition_keys(name, plan)


def test_no_window_census_in_candidate_builders(spark):
    """The LSH / SimHash / containment / embedding-bucket candidate
    passes share one generator, ``lsh.bucket_pairs``, whose default
    checkpoints the pair set, so the benched queries' final plans don't
    show the census — gate its lazy plan (``cleanup`` mode) on each of
    the four call shapes instead."""
    from pyspark.sql import functions as F

    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.operators.dedup_exact import (
        simhash_band_candidates,
        simhash_signatures,
    )
    from rkmh_spark.operators.lsh import band_buckets, bucket_pairs, candidate_pairs
    from rkmh_spark.operators.signatures import compute_signatures
    from rkmh_spark.operators.similarity import hyperplane_buckets
    from rkmh_spark.sources.pages import documents_as_pages

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = compute_signatures(documents_as_pages(docs), TEST_CONFIG)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cap = TEST_CONFIG.bucket_cap
    cleanup: list = []
    lazy_plans = {
        "lsh_candidate_pairs": candidate_pairs(
            band_buckets(sigs, TEST_CONFIG), TEST_CONFIG, cleanup=cleanup
        ),
        "simhash_band_candidates": simhash_band_candidates(
            simhash_signatures(docs.select("doc_id", "text")), cleanup=cleanup
        ),
        "containment_anchors": bucket_pairs(
            sigs.select("url", F.explode(F.slice("sketch", 1, 16)).alias("anchor")),
            ["anchor"], cap, cleanup=cleanup,
        ),
        "embedding_buckets": bucket_pairs(
            hyperplane_buckets(emb, 64).withColumnRenamed("vec_id", "id"),
            ["bucket"], cap, node="id", out=("id_a", "id_b"), cleanup=cleanup,
        ),
    }
    try:
        assert len(cleanup) == len(lazy_plans)  # one census handle each
        for name, df in lazy_plans.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "functions=[count(1)]" in plan, name  # the groupBy census
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            _assert_no_census_partition_keys(name, plan)
    finally:
        for h in cleanup:
            h.unpersist()


def test_parquet_scan_prunes_columns(spark):
    # token_docfreq reads only (doc_id, text) of documents — the scan's
    # ReadSchema must not include the unused lang/source/n_chars columns
    df = entry_mod.queries()["token_docfreq"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert scan_lines, "no parquet scan found"
    for l in scan_lines:
        assert "lang" not in l and "n_chars" not in l, l


def test_filter_pushdown_reaches_scan(spark):
    # embedding_topk filters queries on vec_id < 20 — the predicate must
    # be pushed into the parquet scan, not applied post-scan only.
    # (variant_calls' scans don't appear in ITS final plan: its depth
    # table is localCheckpointed, so those scans run in sub-jobs.)
    df = entry_mod.queries()["embedding_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [
        l for l in plan.split("\n")
        if "PushedFilters" in l and "vec_id" in l and "LessThan" in l
    ]
    assert pushed, plan[:2000]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# Python evaluation nodes in the optimized plan of each candidate scorer.
# The multiset shared count is a JVM expression, so verify and classify
# run no Python at all. Containment's estimator is the one Python UDF and
# runs once per candidate: a threshold filter pushed below the projection
# that computes it would copy the call (2 nodes, every candidate pays the
# Arrow round trip twice).
PYTHON_EVALS = {
    "verify_pairs": 0,
    "classify_pages": 0,
    "classify_pages_exhaustive": 0,
    "ranked_similarity": 0,
    "containment_pairs": 1,
}


def test_python_evals_per_candidate_scorer(spark):
    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.operators.classify import classify_pages, ranked_similarity
    from rkmh_spark.operators.containment import containment_pairs
    from rkmh_spark.operators.signatures import compute_signatures
    from rkmh_spark.operators.verify import verify_pairs
    from rkmh_spark.sources.pages import pages_dataframe

    sigs = compute_signatures(
        pages_dataframe(spark, n_clusters=4, dup_rate=0.6, seed=3), TEST_CONFIG
    )
    pairs = spark.createDataFrame([("a", "b")], "url_a string, url_b string")
    plans = {
        "verify_pairs": verify_pairs(pairs, sigs, TEST_CONFIG),
        "classify_pages": classify_pages(sigs, sigs, TEST_CONFIG),
        "classify_pages_exhaustive": classify_pages(
            sigs, sigs, TEST_CONFIG, exhaustive=True
        ),
        "ranked_similarity": ranked_similarity(sigs, sigs, TEST_CONFIG),
        "containment_pairs": containment_pairs(pairs, sigs, TEST_CONFIG),
    }
    for name, df in plans.items():
        plan = _optimized(df)
        assert plan.count("ArrowEvalPython") == PYTHON_EVALS[name], (name, plan)
        assert "BatchEvalPython" not in plan, name


def test_band_buckets_plan_is_the_per_band_slice_plan(spark):
    """band_buckets parses its band array as ONE expression; the optimized
    plan must equal the spelling with one F.slice column per band."""
    from pyspark.sql import functions as F

    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.operators.lsh import band_buckets
    from rkmh_spark.operators.signatures import compute_signatures
    from rkmh_spark.sources.pages import pages_dataframe

    sigs = compute_signatures(
        pages_dataframe(spark, n_clusters=4, dup_rate=0.6, seed=3), TEST_CONFIG
    )
    b, r = TEST_CONFIG.num_bands, TEST_CONFIG.band_rows
    per_band = F.array(*[F.slice("minhash", i * r + 1, r) for i in range(b)])
    expected = (
        sigs.select("url", F.posexplode(per_band).alias("band_id", "band"))
        .where(F.size("band") == r)
        .select("url", "band_id", F.xxhash64("band").alias("band_hash"))
    )

    def shape(df) -> str:
        return re.sub(r"#\d+L?", "", _optimized(df))

    assert shape(band_buckets(sigs, TEST_CONFIG)) == shape(expected)


# Spark jobs of one dedup_pages run at TEST_CONFIG, forced by one collect
# of its assignments, on pages_dataframe(n_clusters=12, dup_rate=0.6,
# seed=3) in this suite's local[4] session (Spark 4.1.2, cold cache):
# 16 since every bucket goes through the one sharded self-join of
# lsh.bucket_pairs (19 with the separate plain-join + salted-hot-bucket
# branches and their union). A run without a checkpoint manager must not
# add jobs.
DEDUP_PAGES_MAX_JOBS = 16


def _jobs_of(spark, group, action) -> int:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_pages_job_count(spark):
    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.operators.dedup import dedup_pages
    from rkmh_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, n_clusters=12, dup_rate=0.6, seed=3)
    n_jobs = _jobs_of(
        spark,
        "test_dedup_pages_job_count",
        lambda: dedup_pages(pages, TEST_CONFIG).assignments.collect(),
    )
    assert 0 < n_jobs <= DEDUP_PAGES_MAX_JOBS, n_jobs


# Spark jobs of one compute_signatures_min_occ collect with -I and -M both
# set, on the job-gate fixture above: 6 with one statistics aggregate over
# the checkpointed per-doc relation (8 with a depth aggregate plus a
# second corpus hash pass for the document frequency, each joined on its
# own).
MIN_OCC_SIGNATURES_MAX_JOBS = 6


def test_frequency_filtered_signatures_job_count(spark):
    import dataclasses

    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.operators.signatures import compute_signatures_min_occ
    from rkmh_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, n_clusters=12, dup_rate=0.6, seed=3)
    cfg = dataclasses.replace(TEST_CONFIG, max_doc_freq=3, min_occ=2)
    n_jobs = _jobs_of(
        spark,
        "test_frequency_filtered_signatures_job_count",
        lambda: compute_signatures_min_occ(pages, cfg).collect(),
    )
    assert 0 < n_jobs <= MIN_OCC_SIGNATURES_MAX_JOBS, n_jobs


# Spark jobs of the incremental stream on the job-gate fixture, split
# into two micro-batches by url hash, in this suite's local[4] session
# (Spark 4.1.2, cold cache): the second micro-batch (stored signature,
# band and assignment state present) runs process_incremental_batch in
# 27 jobs, and compacting the two batches runs 20. Tighten as cuts land
# (ROADMAP item 3 aims for at most 15 each).
STREAM_BATCH_MAX_JOBS = 27
COMPACTION_MAX_JOBS = 20


def test_stream_batch_and_compaction_job_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from rkmh_spark.config import TEST_CONFIG
    from rkmh_spark.sources.pages import pages_dataframe
    from rkmh_spark.streaming.stream_classify import (
        compact_assignments,
        process_incremental_batch,
    )

    pages = pages_dataframe(spark, n_clusters=12, dup_rate=0.6, seed=3)
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    dirs = [str(tmp_path / d) for d in ("s", "b", "a")]
    process_incremental_batch(
        spark, pages.where(half == 0), 0, TEST_CONFIG, *dirs
    )
    n_batch = _jobs_of(
        spark,
        "test_stream_batch_job_count",
        lambda: process_incremental_batch(
            spark, pages.where(half == 1), 1, TEST_CONFIG, *dirs
        ),
    )
    n_compact = _jobs_of(
        spark,
        "test_compaction_job_count",
        lambda: compact_assignments(spark, TEST_CONFIG, *dirs),
    )
    assert 0 < n_batch <= STREAM_BATCH_MAX_JOBS, n_batch
    assert 0 < n_compact <= COMPACTION_MAX_JOBS, n_compact


def test_per_document_statistics_are_one_map_only_arrow_pass(spark):
    """SimHash, the Gopher filter and the repetition signals each give one
    row per document: a JVM projection and ONE mapInArrow kernel, with no
    Exchange (no explode, groupBy or join back)."""
    from rkmh_spark.functions.text import gopher_quality_filter, repetition_signals
    from rkmh_spark.operators.dedup_exact import simhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for name, df in {
        "simhash_signatures": simhash_signatures(docs),
        "gopher_quality_filter": gopher_quality_filter(docs, min_words=10),
        "repetition_signals": repetition_signals(docs),
    }.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "Generate" not in plan, (name, plan)


# Spark jobs of one collect of each query at sf0.001 in this suite's
# local[4] session (Spark 4.1.2, cold cache). simhash_dup_pairs: 13 with
# the Arrow SimHash vote (14 with the token explode + groupBy);
# quality_filter: 2 with the map-only pass (5 with the gram groupBys and
# the join back); min_occ_signatures: 6 (the -M pass of
# compute_signatures_min_occ); ngram_jaccard_pairs: 15 (gram census,
# self-join and the eager checkpoint of the result).
QUERY_MAX_JOBS = {
    "simhash_dup_pairs": 13, "quality_filter": 2, "min_occ_signatures": 6,
    "ngram_jaccard_pairs": 15,
}


@pytest.mark.parametrize("name", sorted(QUERY_MAX_JOBS))
def test_query_job_count(spark, name):
    fn = entry_mod.queries()[name]
    n_jobs = _jobs_of(
        spark, f"test_query_job_count_{name}", lambda: fn(spark, SF).collect()
    )
    assert 0 < n_jobs <= QUERY_MAX_JOBS[name], n_jobs
