"""P5 multi-k shingle concat (reference ``-k 12 -k 14``,
/root/reference/src/rkmh.cpp:296-303): the sketch over a tuple of k sizes
must equal the bottom-s of the CONCATENATED per-k hash multisets.

The chunk-boundary tests shrink ``MAX_CHUNK_SHINGLES`` so that documents
of a small batch fall on both sides of several murmur chunks."""

import numpy as np
import pandas as pd
import pytest

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions import shingles
from rkmh_spark.functions.shingles import (
    bottom_s_sketch,
    hash_texts,
    shingle_hashes,
    sketch_texts_batch,
)
from rkmh_spark.functions.sinks import hash_dump_rows
from rkmh_spark.operators.docfreq import CountMinSketchNP
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.sources.pages import pages_dataframe

KS = (6, 10)
CFG = DedupConfig(k=KS, sketch_size=48, num_bands=24, band_rows=4)


def _oracle_sketch(text: str) -> np.ndarray:
    parts = [shingle_hashes(text, kk, CFG.hash_seed) for kk in KS]
    return bottom_s_sketch(np.concatenate(parts), CFG.sketch_size).view(np.int64)


def test_multi_k_kernel_matches_concat_oracle():
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow",
        "",
        "tiny",  # shorter than k=6 AND k=10 → empty
        "sevench",  # 7 bytes: k=6 contributes 2 shingles, k=10 none
    ]
    sketches, minhashes, counts = sketch_texts_batch(
        texts, KS, CFG.sketch_size, CFG.hash_seed, num_bins=CFG.num_perms
    )
    for i, t in enumerate(texts):
        np.testing.assert_array_equal(sketches[i], _oracle_sketch(t), err_msg=t)
        expected_count = sum(max(len(t.encode()) - kk + 1, 0) for kk in KS)
        assert counts[i] == expected_count
        assert (len(minhashes[i]) == 0) == (expected_count == 0)


def test_multi_k_through_spark_signatures(spark):
    pages = pages_dataframe(spark, n_clusters=8, seed=21)
    texts = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    sigs = compute_signatures(pages, CFG)
    got = {r["url"]: np.array(r["sketch"], dtype=np.int64) for r in sigs.collect()}
    for u, t in texts.items():
        np.testing.assert_array_equal(got[u], _oracle_sketch(t), err_msg=u)


def test_multi_k_is_not_single_k():
    t = "the quick brown fox jumps over the lazy dog"
    multi = _oracle_sketch(t)
    single6 = bottom_s_sketch(shingle_hashes(t, 6), CFG.sketch_size)
    assert not np.array_equal(multi, single6.view(np.int64))


# None, empty, shorter than every k, several chunks long at 64, and a
# run of short texts that share one chunk with both k widths present
BOUNDARY_TEXTS = [
    None,
    "the quick brown fox jumps over the lazy dog",
    "",
    "tiny",
    "pack my box with five dozen liquor jugs " * 6,
    "sevench",
    "abcdefghijkl",
    "mnopqrstuvwxyz",
    "lorem ipsum dolor",
    "sphinx of black quartz, judge my vow; ünïcödé " * 3,
    None,
    "how vexingly quick daft zebras jump",
]


@pytest.fixture
def small_chunks(monkeypatch):
    monkeypatch.setattr(shingles, "MAX_CHUNK_SHINGLES", 64)


def _chunks(k):
    return list(hash_texts(BOUNDARY_TEXTS, k, CFG.hash_seed))


@pytest.mark.parametrize("k", [8, KS])
def test_hash_texts_matches_shingle_hashes_across_chunks(small_chunks, k):
    chunks = _chunks(k)
    assert len(chunks) > 2
    assert max(b.size - 1 for b, _ in chunks) >= 4
    per_doc = [h for b, hs in chunks for h in np.split(hs, b[1:-1])]
    assert len(per_doc) == len(BOUNDARY_TEXTS)
    for t, h in zip(BOUNDARY_TEXTS, per_doc):
        np.testing.assert_array_equal(h, shingle_hashes(t or "", k, CFG.hash_seed))


@pytest.mark.parametrize("k", [8, KS])
@pytest.mark.parametrize("filtered", [False, True])
def test_sketch_batch_matches_oracle_across_chunks(small_chunks, k, filtered):
    def keep(h):
        return h % np.uint64(3) != 0

    sketches, minhashes, counts = sketch_texts_batch(
        BOUNDARY_TEXTS, k, CFG.sketch_size, CFG.hash_seed,
        keep=keep if filtered else None, num_bins=CFG.num_perms,
    )
    for i, t in enumerate(BOUNDARY_TEXTS):
        h = shingle_hashes(t or "", k, CFG.hash_seed)
        assert counts[i] == h.size
        if filtered:
            h = h[keep(h)]
        want = bottom_s_sketch(h, CFG.sketch_size)
        np.testing.assert_array_equal(sketches[i], want.view(np.int64))
        np.testing.assert_array_equal(
            minhashes[i], shingles.oph_minhash(np.sort(h[h != 0]), CFG.num_perms)
        )


@pytest.mark.parametrize("k", [8, KS])
def test_hash_dump_positions_restart_after_chunk_boundary(small_chunks, k):
    # index of the first document of every chunk after the first
    after = np.cumsum([b.size - 1 for b, _ in _chunks(k)])[:-1]
    assert any(BOUNDARY_TEXTS[i] for i in after)
    urls = [f"u{i}" for i in range(len(BOUNDARY_TEXTS))]
    rows = hash_dump_rows(
        pd.DataFrame({"url": urls, "text": BOUNDARY_TEXTS}), k, CFG.hash_seed
    )
    for u, t in zip(urls, BOUNDARY_TEXTS):
        mine = rows[rows["url"] == u]
        want = shingle_hashes(t or "", k, CFG.hash_seed)
        np.testing.assert_array_equal(mine["pos"], np.arange(want.size))
        np.testing.assert_array_equal(mine["hash"], want.view(np.int64))


@pytest.mark.parametrize("k", [8, KS])
def test_count_min_per_chunk_equals_per_document(small_chunks, k):
    per_chunk = CountMinSketchNP(width=256, depth=3)
    for _, hs in _chunks(k):
        per_chunk.update(hs[hs != 0])
    per_doc = CountMinSketchNP(width=256, depth=3)
    for t in BOUNDARY_TEXTS:
        h = shingle_hashes(t or "", k, CFG.hash_seed)
        per_doc.update(h[h != 0])
    assert per_doc.table.sum() > 0
    np.testing.assert_array_equal(per_chunk.table, per_doc.table)
