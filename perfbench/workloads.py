"""Workloads: their corpora, the engine calls they time, and the checks
their outputs must pass.

The engine is driven only through its public functions. The flagship op
is ``dedup_pages`` followed by a noop sink on the assignments. The traced
variant composes the same layers by hand, with each layer boundary
materialized, so every layer gets its own wall time and job count.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import CorpusSpec, Page, generate
from rkmh_spark.config import TEST_CONFIG, DedupConfig

N_FILES = 8  # parquet part files per corpus; the scan gets this many splits


@dataclass(frozen=True)
class Workload:
    name: str
    spec: CorpusSpec
    config: DedupConfig
    stream_batches: int  # micro-batches per stream epoch in the traced run
    corpus_passes: bool  # traced run also times the corpus passes


WORKLOADS = {
    # long, mostly unique pages at the reference defaults: sketching bytes
    # dominates and few candidates survive
    "dedup_longdocs": Workload(
        "dedup_longdocs",
        CorpusSpec(n_bases=500, words=(200, 2000), cluster_sizes=(2, 6),
                   cluster_share=0.05, boiler_share=0.2),
        DedupConfig(), 0, True,
    ),
    # short pages, most in planted clusters, shared templates, and one
    # mirror farm larger than bucket_cap so the salted branch runs
    "dedup_dupheavy": Workload(
        "dedup_dupheavy",
        CorpusSpec(n_bases=24, words=(20, 80), cluster_sizes=(2, 12),
                   cluster_share=0.8, boiler_share=0.5, farm_size=201),
        TEST_CONFIG, 2, False,
    ),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Corpus:
    """Generated pages on disk, plus every expected output, computed once."""

    def __init__(self, spark, wl: Workload, seed: int, work_dir: str):
        from rkmh_spark.oracle import oracle_pairs
        from rkmh_spark.sources.tables import load_table

        self.pages: list[Page] = generate(wl.spec, seed)
        self.dir = os.path.join(work_dir, "corpus")
        write_pages(self.pages, os.path.join(self.dir, "documents.parquet"))
        self.df = load_table(spark, self.dir, "documents")
        self.n_pages = len(self.pages)
        self.text_mb = sum(len(p.text.encode()) for p in self.pages) / 1e6
        self.cluster_of = {p.url: p.cluster for p in self.pages}

        members: dict[int, list[Page]] = defaultdict(list)
        by_text: dict[str, list[Page]] = defaultdict(list)
        for p in self.pages:
            members[p.cluster].append(p)
            by_text[p.text].append(p)
        # truth: the reference loop's accepted pairs inside each planted
        # cluster (the all-pairs oracle is O(n^2) over the whole corpus).
        # The oracle judges each pair of texts on its own, so it runs over
        # distinct texts and a verdict covers every copy of the pair (the
        # mirror farm would otherwise cost 20k identical comparisons).
        cfg = wl.config
        self.truth: set[tuple[str, str]] = set()
        for ms in members.values():
            if len(ms) < 2:
                continue
            copies: dict[str, list[str]] = defaultdict(list)
            for m in ms:
                copies[m.text].append(m.url)
            texts = list(copies)
            accepted = [(texts[i], texts[j]) for i, j in oracle_pairs(texts, cfg)]
            accepted += [(t, t) for t in texts
                         if len(copies[t]) > 1 and oracle_pairs([t, t], cfg)]
            for ta, tb in accepted:
                self.truth.update(
                    _pair(a, b) for a in copies[ta] for b in copies[tb] if a != b
                )
        # identical copies: every pair pass must report each of these
        self.copy_pairs = {
            _pair(a.doc_id, b.doc_id)
            for ps in by_text.values()
            for a, b in combinations(ps, 2)
        }
        # exact groups by a pure-Python group-by on the text
        self.exact_groups = {
            (hashlib.md5(t.encode()).hexdigest(), len(ps), min(p.doc_id for p in ps))
            for t, ps in by_text.items()
            if len(ps) > 1
        }


def write_pages(pages: list[Page], path: str, n_files: int = N_FILES) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tbl = pa.table(
        {
            "doc_id": pa.array([p.doc_id for p in pages], pa.int64()),
            "url": [p.url for p in pages],
            "text": [p.text for p in pages],
        }
    )
    n = len(tbl)
    for j in range(n_files):
        lo, hi = j * n // n_files, (j + 1) * n // n_files
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{j:03d}.parquet"))


def _pair(a, b):
    return (a, b) if a < b else (b, a)


def _min_label(pairs: set[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@dataclass
class FlagshipCheck:
    ok: bool
    recall: float
    cross_pairs: int   # verified pairs joining two planted clusters
    assignments: dict[str, str]  # url -> cluster_id, as the op returned them
    note: str = ""


def check_flagship(corpus: Corpus, pairs_df, assignments_df) -> FlagshipCheck:
    """Recall against the planted-cluster oracle; no verified pair inside a
    cluster that the oracle rejects; assignments equal the min-url
    connected components of the verified pairs."""
    t = pairs_df.select("url_a", "url_b").toArrow()
    got = set(map(_pair, t.column(0).to_pylist(), t.column(1).to_pylist()))
    hit = len(got & corpus.truth)
    recall = hit / len(corpus.truth) if corpus.truth else 1.0
    inside = {p for p in got if corpus.cluster_of[p[0]] == corpus.cluster_of[p[1]]}
    false_inside = inside - corpus.truth
    labels = _min_label(got)
    t = assignments_df.select("url", "cluster_id").toArrow()
    assign = dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    bad_assign = sum(
        assign.get(p.url) != labels.get(p.url, p.url) for p in corpus.pages
    ) + (len(assign) != corpus.n_pages)
    ok = recall >= 0.99 and not false_inside and not bad_assign
    note = "" if ok else (
        f"recall={recall:.4f} false_inside={len(false_inside)} bad_assign={bad_assign}"
    )
    return FlagshipCheck(ok, recall, len(got) - len(inside), assign, note)


# the reference job's size: about a tenth of a flagship op, long enough
# that its own jitter stays small
REF_JVM_ROWS = 10_000_000
REF_PY_ROWS = 80_000
REF_JOIN_ROWS, REF_JOIN_KEYS = 100_000, 2_500


def _ref_kernel(batches):
    for b in batches:
        acc = 0
        for x in b.column(0).to_pylist():
            acc = (acc * 31 + x) & 0xFFFFFFFF
        yield pa.RecordBatch.from_pydict({"n": [b.num_rows], "acc": [acc]})


def reference_op(spark, parts: int) -> bool:
    """A fixed Spark job that runs no engine code, with the flagship's mix
    of work: a JVM aggregate over a generated range, a Python worker loop
    through ``mapInArrow``, and a shuffled aggregate joined back to its
    input (several small jobs, so per-job latency counts as in the op). It
    shares the host, the session and the worker pool with the flagship op,
    so its time tracks how fast the host runs at the moment; the benchmark
    times it between ops and reports op time in its units. Returns whether
    it produced its known results."""
    from pyspark.sql import functions as F

    n = REF_JVM_ROWS
    total = spark.range(0, n, 1, parts).selectExpr("sum(id % 1000) AS s").first()["s"]
    rows = (
        spark.range(0, REF_PY_ROWS, 1, parts)
        .mapInArrow(_ref_kernel, "n long, acc long")
        .selectExpr("sum(n) AS n")
        .first()["n"]
    )
    a = spark.range(0, REF_JOIN_ROWS, 1, parts).selectExpr(
        f"id % {REF_JOIN_KEYS} AS k", "id AS v"
    )
    joined = (
        a.groupBy("k").agg(F.count("*").alias("c")).join(a, "k")
        .selectExpr("sum(c) AS s").first()["s"]
    )
    per_key = REF_JOIN_ROWS // REF_JOIN_KEYS
    return (total == n // 1000 * 499_500 and rows == REF_PY_ROWS
            and joined == REF_JOIN_ROWS * per_key)


def flagship_op(corpus: Corpus, cfg):
    """The timed op: one complete dedup pass with a noop sink."""
    from rkmh_spark.operators.dedup import dedup_pages

    res = dedup_pages(corpus.df, cfg)
    noop(res.assignments)
    return res


def layered_flagship_op(corpus: Corpus, cfg, tracer, op: int) -> dict:
    """The flagship's default path, one span per layer (mirrors dedup_pages
    with no frequency filters and no containment pass). Returns the layer
    outputs and the per-op counts."""
    from pyspark.sql import functions as F

    from rkmh_spark.operators.components import connected_components
    from rkmh_spark.operators.lsh import band_buckets, candidate_pairs
    from rkmh_spark.operators.signatures import compute_signatures
    from rkmh_spark.operators.verify import verify_pairs

    with tracer.span("signatures", op):
        sigs = compute_signatures(corpus.df, cfg).localCheckpoint(eager=True)
    with tracer.span("lsh", op):
        cands = candidate_pairs(band_buckets(sigs, cfg), cfg, materialize=True)
    with tracer.span("verify", op):
        pairs = verify_pairs(cands, sigs, cfg).localCheckpoint(eager=True)
        n_pairs = pairs.count()
    with tracer.span("components", op):
        labels = connected_components(
            pairs.select("url_a", "url_b"), cfg.max_cc_iterations,
            n_edges=n_pairs, driver_threshold=cfg.cc_driver_threshold,
        ).localCheckpoint(eager=True)
    with tracer.span("assign", op):
        assignments = (
            corpus.df.select("url")
            .join(labels.withColumnRenamed("node", "url"), "url", "left")
            .select("url", F.coalesce("label", "url").alias("cluster_id"))
        )
        noop(assignments)

    # counts, outside every span
    census = (
        band_buckets(sigs, cfg).groupBy("band_id", "band_hash").count()
        .agg(
            F.sum("count").alias("rows"),
            F.sum(F.when(F.col("count") >= 2, 1).otherwise(0)).alias("ge2"),
            F.sum(F.when(F.col("count") > cfg.bucket_cap, 1).otherwise(0)).alias("hot"),
        )
        .first()
    )
    n_cands = cands.count()
    sig_counts = sigs.agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.size("sketch") == 0, 1).otherwise(0)).alias("empty"),
    ).first()
    return {
        "pairs": pairs,
        "assignments": assignments,
        "counts": {
            "signatures.docs": sig_counts["docs"],
            "signatures.empty_sketches": sig_counts["empty"] or 0,
            "lsh.band_rows": census["rows"] or 0,
            "lsh.buckets_ge2": census["ge2"] or 0,
            "lsh.hot_buckets": census["hot"] or 0,
            "lsh.candidates": n_cands,
            "verify.pairs": n_pairs,
            "verify.precision": n_pairs / n_cands if n_cands else 0.0,
            "components.edges": n_pairs,
            "components.clusters": labels.select("label").distinct().count(),
        },
    }


def corpus_passes(corpus: Corpus, tracer, op: int) -> tuple[bool, dict, str]:
    """Exact groups, SimHash pairs, n-gram Jaccard pairs and duplicated
    spans over the corpus, each under its own span; outputs are collected
    inside the span (they are small) so they can be checked."""
    from rkmh_spark.operators.dedup_exact import (
        exact_duplicate_groups,
        ngram_jaccard_pairs,
        simhash_dup_pairs,
    )
    from rkmh_spark.operators.span_dedup import duplicated_spans

    df = corpus.df
    with tracer.span("exact", op):
        groups = {tuple(r) for r in exact_duplicate_groups(df).collect()}
    with tracer.span("simhash", op):
        sim = {_pair(r[0], r[1]) for r in simhash_dup_pairs(df).select("doc_a", "doc_b").collect()}
    with tracer.span("ngram", op):
        ngram = {
            _pair(r[0], r[1])
            for r in ngram_jaccard_pairs(df, hash_keys=True).select("doc_a", "doc_b").collect()
        }
    with tracer.span("spans", op):
        spans = duplicated_spans(df, hash_keys=True).select("doc_id").collect()
    problems = []
    if groups != corpus.exact_groups:
        problems.append("exact groups differ from the text group-by")
    if not corpus.copy_pairs <= sim:
        problems.append(f"simhash missed {len(corpus.copy_pairs - sim)} copy pairs")
    if not corpus.copy_pairs <= ngram:
        problems.append(f"ngram missed {len(corpus.copy_pairs - ngram)} copy pairs")
    copies = {d for p in corpus.copy_pairs for d in p}
    if not copies <= {r[0] for r in spans}:
        problems.append("an identical copy has no duplicated span")
    counts = {"span_dedup.spans": len(spans)}
    return not problems, counts, "; ".join(problems)


def stream_epoch(spark, corpus: Corpus, wl: Workload, cfg, tracer, op: int,
                 state_dir: str, expected: dict[str, str]) -> tuple[bool, dict, str]:
    """One op-epoch of the incremental loop from empty state: the pages in
    ``wl.stream_batches`` micro-batches through process_incremental_batch,
    then one compact_assignments. Ok only when the compacted assignments
    equal dedup_pages on the same pages (``expected``)."""
    from rkmh_spark.sources.tables import load_table
    from rkmh_spark.streaming.stream_classify import (
        compact_assignments,
        process_incremental_batch,
    )

    shutil.rmtree(state_dir, ignore_errors=True)
    dirs = [os.path.join(state_dir, d) for d in ("signatures", "bands", "assignments")]
    batches = []
    for j in range(wl.stream_batches):
        bdir = os.path.join(state_dir, "in", f"b{j}")
        write_pages(corpus.pages[j :: wl.stream_batches], os.path.join(bdir, "documents.parquet"), 2)
        batches.append(load_table(spark, bdir, "documents"))
    for j, batch in enumerate(batches):
        with tracer.span("stream_batch", op * 100 + j):
            process_incremental_batch(spark, batch, j, cfg, *dirs)
    state_bytes, state_files = _du(dirs)
    with tracer.span("stream_compact", op):
        got = dict(compact_assignments(spark, cfg, *dirs).collect())
    ok = got == expected
    counts = {
        "stream_classify.state_mb_written": state_bytes / 1e6,
        "stream_classify.state_files": state_files,
    }
    note = "" if ok else f"compacted assignments differ on {sum(got.get(u) != c for u, c in expected.items())} urls"
    return ok, counts, note


def _du(dirs: list[str]) -> tuple[int, int]:
    size = files = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
    return size, files
