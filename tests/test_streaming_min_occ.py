"""F4 × ST3: the broadcastable Count-Min -M filter inside the incremental
micro-batch loop (VERDICT r2 #8) — per-batch signatures must match the
batch path byte-for-byte given the same pre-built counter, with no exact
depth-table rebuild per batch."""

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.functions.shingles import shingle_hashes
from rkmh_spark.operators.docfreq import CountMinSketchNP
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.sources.pages import generate_pages, pages_schema
from rkmh_spark.streaming.stream_classify import process_incremental_batch


def _batch_df(spark, rows):
    return spark.createDataFrame([r[:5] for r in rows], schema=pages_schema())


def _sig_map(df):
    return {
        r["url"]: (tuple(r["sketch"]), tuple(r["minhash"]), r["n_shingles"])
        for r in df.collect()
    }


def test_incremental_cms_min_occ_matches_batch(spark, tmp_path):
    rows = generate_pages(n_clusters=8, dup_rate=1.0, seed=77)
    cfg = dataclasses.replace(TEST_CONFIG, min_occ=2)

    # offline-built counter (the corpus-scan posture); deliberately
    # NOT updated inside the batch loop —
    # at-least-once replays would double-count
    cms = CountMinSketchNP(seed=7)
    for r in rows:
        h = shingle_hashes(r[3], cfg.k, cfg.hash_seed)
        cms.update(h[h != 0])

    sigs_d, bands_d, asg_d = (
        str(tmp_path / "s"), str(tmp_path / "b"), str(tmp_path / "a")
    )
    third = len(rows) // 3
    batches = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, b in enumerate(batches):
        process_incremental_batch(
            spark, _batch_df(spark, b), i, cfg, sigs_d, bands_d, asg_d,
            cms=cms,
        )

    streamed = _sig_map(spark.read.parquet(sigs_d).drop("batch"))
    batch_sigs = _sig_map(
        compute_signatures(_batch_df(spark, rows), cfg, cms=cms)
    )
    assert streamed == batch_sigs
    assert len(streamed) == len(rows)

    # the -M filter is non-vacuous on this corpus: some doc's sketch must
    # differ from the unfiltered signatures (mutation-unique shingles have
    # global count 1 < min_occ and get dropped)
    unfiltered = _sig_map(
        compute_signatures(_batch_df(spark, rows), TEST_CONFIG)
    )
    assert any(
        streamed[u][0] != unfiltered[u][0] for u in streamed
    ), "min_occ filter dropped nothing — test corpus is vacuous"

    # dups still cluster: one assignment row per url, exact-dup clusters
    # (dup_rate=1.0 pages share ≥2-occurrence vocab) mostly intact
    assign = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(asg_d).select("url", "cluster_id").collect()
    }
    assert len(assign) == len(rows)
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r[5], []).append(r[0])
    split = sum(
        1 for urls in by_cluster.values() if len({assign[u] for u in urls}) > 1
    )
    assert split <= max(1, len(by_cluster) // 6)


def test_cms_filter_superset_of_exact(spark):
    """CMS keep-set is a SUPERSET of the exact depth-table keep-set per
    doc (one-sided over-counting — the reference's own collision mode,
    README.md:67-69)."""
    rows = generate_pages(n_clusters=6, dup_rate=0.5, seed=91)
    cfg = dataclasses.replace(TEST_CONFIG, min_occ=3)
    cms = CountMinSketchNP(seed=3)
    exact: dict[int, int] = {}
    for r in rows:
        h = shingle_hashes(r[3], cfg.k, cfg.hash_seed)
        h = h[h != 0]
        cms.update(h)
        for v in h.tolist():
            exact[v] = exact.get(v, 0) + 1

    df = _batch_df(spark, rows)
    approx = _sig_map(compute_signatures(df, cfg, cms=cms))
    for r in rows:
        url, text = r[0], r[3]
        h = shingle_hashes(text, cfg.k, cfg.hash_seed)
        h = h[h != 0]
        kept_exact = h[[exact[v] >= cfg.min_occ for v in h.tolist()]]
        kept_cms = h[cms.estimate(h) >= cfg.min_occ]
        # one-sided: the CMS keep-set contains every exactly-kept hash
        assert set(kept_exact.tolist()) <= set(kept_cms.tolist()), url
        # and the Spark kernel's sketch is exactly bottom-s of the CMS keep-set
        expect = np.sort(kept_cms)[: cfg.sketch_size].view(np.int64)
        assert tuple(expect.tolist()) == approx[url][0], url



@pytest.mark.parametrize("field, value", [("max_doc_freq", 3), ("min_occ", 2)])
def test_incremental_batch_rejects_unfilterable_config(
    spark, tmp_path, field, value
):
    """-I needs corpus-wide document counts that one micro-batch does not
    have, and -M without a Count-Min counter has nothing to look up: the
    batch must refuse, not sketch unfiltered."""
    rows = generate_pages(n_clusters=2, dup_rate=0.5, seed=5)
    cfg = dataclasses.replace(TEST_CONFIG, **{field: value})
    dirs = [str(tmp_path / d) for d in ("s", "b", "a")]
    with pytest.raises(ValueError, match=field):
        process_incremental_batch(spark, _batch_df(spark, rows), 0, cfg, *dirs)
