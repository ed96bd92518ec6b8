"""Golden recall gate (BASELINE.md): the Spark pipeline must reproduce the
NumPy oracle of the reference loop with dup-pair recall >= 0.99 at identical
shingle/sketch/band config; brute-force must match it exactly."""

import numpy as np
import pytest

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.oracle import oracle_clusters, oracle_pairs, oracle_sketches
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.sources.pages import generate_pages, pages_dataframe


@pytest.fixture(scope="module")
def fixture_rows():
    return generate_pages(n_clusters=30, dup_rate=0.6, seed=7)


@pytest.fixture(scope="module")
def truth(fixture_rows):
    texts = [r[3] for r in fixture_rows]
    pairs = oracle_pairs(texts, TEST_CONFIG)
    clusters = oracle_clusters(texts, TEST_CONFIG, pairs)
    urls = [r[0] for r in fixture_rows]
    url_pairs = {tuple(sorted((urls[i], urls[j]))) for i, j in pairs}
    return {"urls": urls, "pairs": url_pairs, "clusters": clusters}


def _spark_pairs(result):
    return {
        tuple(sorted((r["url_a"], r["url_b"])))
        for r in result.pairs.select("url_a", "url_b").collect()
    }


def test_spark_sketches_match_oracle(spark, fixture_rows):
    texts = [r[3] for r in fixture_rows]
    expected = oracle_sketches(texts, TEST_CONFIG)
    df = pages_dataframe(spark, n_clusters=30, dup_rate=0.6, seed=7)
    from rkmh_spark.operators.signatures import compute_signatures

    got = {
        r["url"]: np.array(r["sketch"], dtype=np.int64)
        for r in compute_signatures(df, TEST_CONFIG).collect()
    }
    for row, exp in zip(fixture_rows, expected):
        np.testing.assert_array_equal(got[row[0]], exp, err_msg=row[0])


def test_brute_force_exactly_matches_oracle(spark, truth):
    df = pages_dataframe(spark, n_clusters=30, dup_rate=0.6, seed=7)
    result = dedup_pages(df, TEST_CONFIG, use_lsh=False)
    assert _spark_pairs(result) == truth["pairs"]


def test_lsh_recall_ge_099(spark, truth):
    df = pages_dataframe(spark, n_clusters=30, dup_rate=0.6, seed=7)
    result = dedup_pages(df, TEST_CONFIG, use_lsh=True)
    got = _spark_pairs(result)
    # LSH may only MISS pairs (losing recall); every emitted pair is
    # verified exactly, so precision must be 1.0 vs the oracle.
    assert got <= truth["pairs"]
    recall = len(got & truth["pairs"]) / max(1, len(truth["pairs"]))
    assert recall >= 0.99, f"recall {recall}: missed {truth['pairs'] - got}"


def test_cluster_assignments_match_oracle(spark, truth):
    df = pages_dataframe(spark, n_clusters=30, dup_rate=0.6, seed=7)
    result = dedup_pages(df, TEST_CONFIG, use_lsh=False)
    got = dict(result.assignments.collect())
    urls = truth["urls"]
    # oracle cluster representative (min index) → min url must equal spark label
    from collections import defaultdict

    comp_urls = defaultdict(list)
    for idx, root in enumerate(truth["clusters"]):
        comp_urls[root].append(urls[idx])
    for root, members in comp_urls.items():
        expect_label = min(members)
        for u in members:
            assert got[u] == expect_label, f"{u}: {got[u]} != {expect_label}"


def test_assignments_cover_all_urls_once(spark):
    df = pages_dataframe(spark, n_clusters=10, dup_rate=0.5, seed=11)
    result = dedup_pages(df, TEST_CONFIG, use_lsh=True)
    n_pages = df.count()
    assert result.assignments.count() == n_pages
    assert result.assignments.select("url").distinct().count() == n_pages


def test_assignments_invariant_across_parallelism(spark):
    """The scaling protocol's hidden correctness claim, pinned: the SAME
    input at different shuffle-partition counts yields byte-identical
    assignments (observed at 2/8/32 cores on the 400k-page bench; this
    guards the min-label CC rule and banding against partition-order
    nondeterminism)."""
    from rkmh_spark.operators.dedup import dedup_pages
    from rkmh_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, n_clusters=20, dup_rate=0.6, seed=77)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    outs = []
    try:
        for parts in (3, 17):
            spark.conf.set(key, str(parts))
            res = dedup_pages(pages.repartition(parts), TEST_CONFIG)
            outs.append(sorted(map(tuple, res.assignments.collect())))
    finally:
        spark.conf.set(key, saved)
    assert outs[0] == outs[1]
