"""F4 (rkmh -M min_kmer_occ) parity: the relational filtered-signature
build must reproduce the reference loop exactly — global occurrence counter,
keep hash iff count >= M, bottom-s of survivors
(/root/reference/src/rkmh.cpp:1256-1267,1363-1374)."""

import numpy as np
from pyspark.sql import functions as F

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.signatures import (
    compute_signatures,
    compute_signatures_min_occ,
)
from rkmh_spark.oracle import oracle_sketches_min_occ
from rkmh_spark.sources.pages import pages_dataframe

CFG = DedupConfig(k=8, sketch_size=64, num_bands=72, band_rows=4, min_occ=2)


def _spark_sketches(spark, cfg, n_clusters=30):
    pages = pages_dataframe(spark, n_clusters=n_clusters, seed=7)
    texts = {
        r["url"]: r["text"] for r in pages.select("url", "text").collect()
    }
    sigs = compute_signatures_min_occ(pages, cfg)
    got = {r["url"]: np.array(r["sketch"], dtype=np.int64) for r in sigs.collect()}
    return texts, got


def test_min_occ_sketches_match_reference_loop(spark):
    texts, got = _spark_sketches(spark, CFG)
    urls = sorted(texts)
    expected = oracle_sketches_min_occ([texts[u] for u in urls], CFG)
    assert set(got) == set(urls)
    for u, exp in zip(urls, expected):
        np.testing.assert_array_equal(got[u], exp, err_msg=u)


def test_min_occ_filters_singleton_shingles(spark):
    # with an uncapped sketch (s >> any doc) sketch_len == kept count, so
    # the global filter's bite is directly observable: docs with
    # globally-unique shingles must lose them (sketch_len < n_shingles),
    # while identical-mirror dup members keep everything
    cfg = DedupConfig(
        k=8, sketch_size=1_000_000, num_bands=72, band_rows=4, min_occ=2
    )
    texts, got = _spark_sketches(spark, cfg)
    n_shingles = {u: max(len(t.encode()) - 7, 0) for u, t in texts.items()}
    assert any(got[u].size < n_shingles[u] for u in texts)  # filter bites
    assert any(got[u].size > 0 for u in texts)  # dup shingles survive


def test_min_occ_composes_with_max_doc_freq(spark):
    # both reference filters together: -M keeps globally-repeated shingles,
    # -I then drops boilerplate present in too many docs
    cfg = DedupConfig(
        k=8, sketch_size=64, num_bands=72, band_rows=4, min_occ=2, max_doc_freq=5
    )
    pages = pages_dataframe(spark, n_clusters=20, seed=11)
    rows = pages.select("url", "text").collect()
    texts = {r["url"]: r["text"] for r in rows}
    sigs = compute_signatures_min_occ(pages, cfg)
    got = {r["url"]: np.array(r["sketch"], dtype=np.int64) for r in sigs.collect()}

    # NumPy oracle: occurrence counter + distinct-doc counter
    from collections import Counter

    from rkmh_spark.functions.shingles import shingle_hashes

    occ: Counter = Counter()
    df: Counter = Counter()
    per_doc = {}
    for u, t in texts.items():
        h = shingle_hashes(t, cfg.k, cfg.hash_seed)
        h = h[h != 0]
        per_doc[u] = h
        occ.update(h.tolist())
        df.update(set(h.tolist()))
    for u, h in per_doc.items():
        h = np.sort(h)
        keep = np.array(
            [occ[int(x)] >= 2 and df[int(x)] <= 5 for x in h], dtype=bool
        )
        exp = h[keep][: cfg.sketch_size].view(np.int64)
        np.testing.assert_array_equal(got[u], exp, err_msg=u)


def test_min_occ_minhash_empty_iff_sketch_empty(spark):
    texts, got_rows = {}, None
    pages = pages_dataframe(spark, n_clusters=10, seed=3)
    sigs = compute_signatures_min_occ(pages, CFG).collect()
    for r in sigs:
        assert (len(r["minhash"]) == 0) == (len(r["sketch"]) == 0)
        if len(r["minhash"]):
            assert len(r["minhash"]) == CFG.num_perms


def test_cms_counter_one_sided_and_accurate(spark):
    from rkmh_spark.operators.docfreq import (
        approx_hash_depth_cms,
        hash_depth_table,
    )

    pages = pages_dataframe(spark, n_clusters=15, seed=13)
    cfg = DedupConfig(k=8, sketch_size=64)
    exact = {
        r["hash"]: r["depth"] for r in hash_depth_table(pages, cfg).collect()
    }
    cms = approx_hash_depth_cms(pages, cfg, width=1 << 14, depth=4)
    hashes = np.array(list(exact), dtype=np.int64).view(np.uint64)
    est = cms.estimate(hashes)
    true = np.array([exact[h] for h in np.asarray(hashes).view(np.int64)])
    assert (est >= true).all()  # CMS never under-counts
    # at this width vs corpus size, estimates are near-exact
    assert (est == true).mean() >= 0.99


def test_approx_min_occ_superset_and_converges_to_exact(spark):
    from rkmh_spark.operators.docfreq import approx_hash_depth_cms

    cfg = DedupConfig(
        k=8, sketch_size=1_000_000, num_bands=72, band_rows=4, min_occ=2
    )
    pages = pages_dataframe(spark, n_clusters=12, seed=17)
    exact = {
        r["url"]: set(r["sketch"])
        for r in compute_signatures_min_occ(pages, cfg).collect()
    }
    # generous width → superset with tiny spillover (CMS only over-counts;
    # a count-1 shingle passes min_occ=2 iff it collides in ALL depth rows,
    # P ≈ (n/width)^depth)
    cms_big = approx_hash_depth_cms(pages, cfg, width=1 << 16, depth=4)
    approx_big = {
        r["url"]: set(r["sketch"])
        for r in compute_signatures(pages, cfg, cms=cms_big).collect()
    }
    n_exact = sum(len(v) for v in exact.values())
    n_extra = sum(len(approx_big[u] - exact[u]) for u in exact)
    assert all(approx_big[u] >= exact[u] for u in exact)
    assert n_extra <= max(5, 0.02 * n_exact), (n_extra, n_exact)
    # tiny width → collisions over-count → kept set is a SUPERSET
    cms_tiny = approx_hash_depth_cms(pages, cfg, width=64, depth=2)
    approx_tiny = {
        r["url"]: set(r["sketch"])
        for r in compute_signatures(pages, cfg, cms=cms_tiny).collect()
    }
    assert all(approx_tiny[u] >= exact[u] for u in exact)
