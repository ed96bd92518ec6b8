"""Tests: containment, merge sketch, search, fingerprint, sinks."""

import datetime

import numpy as np
from pyspark.sql import functions as F

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.sources.pages import pages_schema

TS = datetime.datetime(2026, 1, 1)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, TS, b"", t, "en") for u, t in rows], schema=pages_schema()
    )


# ---------------------------------------------------------------------- containment
def test_containment_catches_truncation(spark):
    # non-periodic text: repeated text breeds duplicate-heavy multiset
    # sketches (reference semantics keep duplicates), which dilutes the
    # containment estimate — realistic pages are non-periodic
    import random

    rng = random.Random(5)
    words = [f"w{rng.randrange(10**6):06d}" for _ in range(600)]
    base = " ".join(words)
    rows = [
        ("p://full", base),
        ("p://head", base[: len(base) // 3]),       # strict prefix
        ("p://other", "unrelated words entirely different content stream " * 10),
    ]
    from rkmh_spark.operators.containment import confirm_substring, containment_pairs

    pages = _pages(spark, rows)
    sigs = compute_signatures(pages, TEST_CONFIG)
    all_pairs = spark.createDataFrame(
        [("p://full", "p://head"), ("p://full", "p://other")],
        ["url_a", "url_b"],
    )
    cont = containment_pairs(all_pairs, sigs, TEST_CONFIG, containment_threshold=0.8)
    got = {(r["url_a"], r["url_b"]): r["containment"] for r in cont.collect()}
    assert ("p://full", "p://head") in got
    assert ("p://full", "p://other") not in got

    confirmed = confirm_substring(cont, pages).collect()
    assert len(confirmed) == 1
    assert confirmed[0]["contained_url"] == "p://head"
    assert confirmed[0]["container_url"] == "p://full"


# ---------------------------------------------------------------------- merge sketch
def test_cluster_representative_sketch(spark):
    from rkmh_spark.operators.merge_sketch import cluster_representative_sketches

    import random

    rng = random.Random(9)
    base = " ".join(f"t{rng.randrange(10**6):06d}" for _ in range(80))
    solo = " ".join(f"u{rng.randrange(10**6):06d}" for _ in range(80))
    rows = [("c://a", base), ("c://b", base), ("c://solo", solo)]
    pages = _pages(spark, rows)
    sigs = compute_signatures(pages, TEST_CONFIG)
    assignments = spark.createDataFrame(
        [("c://a", "c://a"), ("c://b", "c://a"), ("c://solo", "c://solo")],
        ["url", "cluster_id"],
    )
    reps = {
        r["cluster_id"]: r
        for r in cluster_representative_sketches(sigs, assignments, TEST_CONFIG).collect()
    }
    # identical members → merged sketch == member sketch; every hash count == 2
    member = sigs.where(F.col("url") == "c://a").first()["sketch"]
    merged = reps["c://a"]
    assert list(merged["sketch"]) == sorted(set(member), key=lambda v: (v < 0, v))
    assert all(c == 2 for c in merged["member_counts"])
    assert all(c == 1 for c in reps["c://solo"]["member_counts"])
    # unsigned ordering: no negative hash may precede a non-negative one
    sk = list(merged["sketch"])
    if any(v < 0 for v in sk) and any(v >= 0 for v in sk):
        first_neg = next(i for i, v in enumerate(sk) if v < 0)
        assert all(v < 0 for v in sk[first_neg:])


# ---------------------------------------------------------------------- search
def test_search_broadcast_and_relational_agree(spark):
    from rkmh_spark.functions.shingles import shingle_hashes
    from rkmh_spark.operators.search import (
        search_hashes_broadcast,
        search_hashes_relational,
    )
    from rkmh_spark.functions.sinks import hash_dump

    needle = "needle in the haystack pattern"
    rows = [
        ("s://hit", f"some prefix text {needle} some suffix text padding"),
        ("s://miss", "completely unrelated document body with other words"),
    ]
    pages = _pages(spark, rows)
    dict_hashes = shingle_hashes(needle, TEST_CONFIG.k, TEST_CONFIG.hash_seed).view(
        np.int64
    )
    got = {
        r["url"]: r["n_hits"]
        for r in search_hashes_broadcast(pages, dict_hashes, TEST_CONFIG).collect()
    }
    assert "s://hit" in got and "s://miss" not in got

    exploded = hash_dump(pages, TEST_CONFIG).select("url", "hash")
    dic = spark.createDataFrame([(int(h),) for h in dict_hashes], ["hash"]).distinct()
    rel = {
        r["url"]: r["n_hits"]
        for r in search_hashes_relational(exploded, dic).collect()
    }
    assert "s://hit" in rel and "s://miss" not in rel


# ---------------------------------------------------------------------- fingerprint
def test_winnow_shared_substring_guarantee(spark):
    from rkmh_spark.functions.fingerprint import fingerprint_documents, winnow

    h = np.array([9, 3, 7, 1, 8, 8, 2], dtype=np.uint64)
    got = winnow(h, 3)
    np.testing.assert_array_equal(got, np.array([1, 2, 3], dtype=np.uint64))

    shared = "a very long shared passage that both documents quote verbatim here"
    rows = [
        ("f://a", "intro words before " + shared),
        ("f://b", shared + " and trailing content afterwards"),
    ]
    fps = {
        r["url"]: set(r["fingerprints"])
        for r in fingerprint_documents(_pages(spark, rows), k=8, w=4).collect()
    }
    assert fps["f://a"] & fps["f://b"], "shared substring must share a fingerprint"


# ---------------------------------------------------------------------- sinks
def test_sketch_json_metadata(spark):
    from rkmh_spark.functions.sinks import sketch_json

    pages = _pages(spark, [("j://x", "lorem ipsum dolor sit amet " * 5)])
    row = sketch_json(compute_signatures(pages, TEST_CONFIG), TEST_CONFIG).first()
    assert row["hashType"] == "MurmurHash3_x64_128"
    assert row["hashSeed"] == 42 and row["hashBits"] == 64
    assert row["canonical"] is False and row["kmer"] == TEST_CONFIG.k
    assert len(row["sketches"]) <= TEST_CONFIG.sketch_size


def test_vw_lines(spark):
    from rkmh_spark.functions.sinks import vowpal_wabbit_lines

    pages = _pages(spark, [("v://a|b", "alpha beta gamma delta " * 8)])
    line = vowpal_wabbit_lines(compute_signatures(pages, TEST_CONFIG)).first()["line"]
    assert line.startswith("1.0 v://a_b|sketch ")
    assert len(line.split(" ")) > 3
