"""F5 (rkmh ``-I max_samples``) parity: drop every hash present in more
than ``max_doc_freq`` documents, then bottom-s sketch the survivors
(/root/reference/src/rkmh.cpp:835-836). The relational signature pass and
``dedup_pages`` must reproduce a pure-Python distinct-document counter
exactly, also when a low threshold makes most shingles hot."""

import dataclasses
from collections import Counter

import numpy as np

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.functions.shingles import oph_minhash, shingle_hashes
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.operators.signatures import compute_signatures_min_occ
from rkmh_spark.sources.pages import pages_dataframe


def _sig_map(df):
    return {
        r["url"]: (tuple(r["sketch"]), tuple(r["minhash"]), r["n_shingles"])
        for r in df.collect()
    }


def _oracle(texts: dict, cfg):
    """url → (sketch, minhash, n_shingles) from a Counter over each
    document's distinct hashes, bottom-s of the kept multiset and OPH."""
    hashes = {}
    df: Counter = Counter()
    for u, t in texts.items():
        h = shingle_hashes(t, cfg.k, cfg.hash_seed)
        hashes[u] = h[h != 0]
        df.update(set(hashes[u].tolist()))
    out = {}
    for u, h in hashes.items():
        keep = np.array(
            [df[x] <= cfg.max_doc_freq for x in h.tolist()], dtype=bool
        )
        hs = np.sort(h[keep])
        out[u] = (
            tuple(hs[: cfg.sketch_size].view(np.int64).tolist()),
            tuple(oph_minhash(hs, cfg.num_perms).tolist()),
            int(h.size),
        )
    return out


def _texts(pages):
    return {r["url"]: r["text"] for r in pages.select("url", "text").collect()}


def test_max_doc_freq_signatures_match_python_oracle(spark):
    """max_doc_freq=1 on dup-heavy pages: every shingle shared by two
    documents is dropped, so most sketches shrink or empty."""
    pages = pages_dataframe(spark, n_clusters=10, dup_rate=0.8, seed=31)
    cfg = dataclasses.replace(TEST_CONFIG, max_doc_freq=1)
    expected = _oracle(_texts(pages), cfg)
    # the filter really bites: some doc loses every shingle
    assert any(len(m) == 0 for _, m, _ in expected.values())
    assert _sig_map(compute_signatures_min_occ(pages, cfg)) == expected


def test_dedup_pages_max_doc_freq_matches_python_oracle(spark):
    pages = pages_dataframe(spark, n_clusters=10, dup_rate=0.8, seed=32)
    cfg = dataclasses.replace(TEST_CONFIG, max_doc_freq=2)
    texts = _texts(pages)
    res = dedup_pages(pages, cfg)
    urls = [r["url"] for r in res.assignments.collect()]
    assert sorted(urls) == sorted(texts)  # one assignment per page
    assert _sig_map(res.signatures) == _oracle(texts, cfg)
