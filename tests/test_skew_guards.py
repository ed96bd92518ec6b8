"""Skew-guard semantics: hot n-grams, hot containment anchors (VERDICT r1).

These pin the *behavioral* contract of the scale defenses: a planted hot
key must not form an O(d²) join key — either it is excluded by a
frequency cap with Jaccard staying well-defined on the filtered space
(n-grams, the reference's -I move) or every pair is still produced via
the salted triangle shards (containment anchors, LSH buckets).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rkmh_spark.config import TEST_CONFIG, DedupConfig
from rkmh_spark.operators.containment import containment_candidates
from rkmh_spark.operators.dedup_exact import ngram_jaccard_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_gram_dropped_by_cap(spark):
    # 20 identical docs: every gram has df=20 > cap=10 → the whole gram
    # space is boilerplate → no pairs, and no 20²-row join key existed
    text = "one two three four five six seven eight"
    df = _docs(spark, [(i, text) for i in range(20)])
    out = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_gram_df=10)
    assert out.count() == 0


def test_cap_above_df_is_identity(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (2, "totally different words describing other things entirely here now"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = _docs(spark, rows)
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_gram_df=100)
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_gram_df=10**9)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    assert a == b and len(a) > 0


def test_hot_gram_capped_pairs_survive_on_other_grams(spark):
    # two docs near-identical (pair must survive) + 30 docs sharing ONE
    # boilerplate gram (df=32 > cap) — the cap removes the hot gram but
    # the real pair is still found on its unique grams
    boiler = "home about contact privacy"
    rows = [
        (0, f"unique alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"unique alpha beta gamma delta epsilon eta {boiler}"),
    ] + [(i, f"filler{i} junk{i} words{i} {boiler}") for i in range(2, 32)]
    df = _docs(spark, rows)
    out = ngram_jaccard_pairs(df, n=3, threshold=0.3, max_gram_df=20)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 1) in got
    # filler docs share ONLY the boilerplate grams → never pairs
    assert all(a in (0, 1) and b in (0, 1) for a, b in got)


def _py_ngram_jaccard(rows, n, threshold):
    """Brute-force distinct-token-n-gram Jaccard over every doc pair."""
    grams = {}
    for i, text in rows:
        w = [t for t in text.split(" ") if t]
        grams[i] = {tuple(w[j : j + n]) for j in range(len(w) - n + 1)}
    out = []
    for a, ga in grams.items():
        for b, gb in grams.items():
            shared = len(ga & gb)
            if a < b and shared:
                jac = round(shared / len(ga | gb), 6)
                if jac >= threshold:
                    out.append((a, b, shared, jac))
    return sorted(out)


def test_ngram_jaccard_matches_python(spark):
    """The 8-byte fold-key pass (the benched path) gives the brute-force
    Python pairs, shared counts and jaccard values; no other key
    spelling is accepted."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (2, "totally different words describing other things entirely here now"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, "short"),
        (5, ""),
        (6, "alpha beta  gamma delta x y z w v u"),
    ]
    df = _docs(spark, rows)
    got = sorted(
        map(tuple, ngram_jaccard_pairs(df, n=3, threshold=0.1).collect())
    )
    assert got == _py_ngram_jaccard(rows, 3, 0.1) and len(got) > 3
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, hash_keys=False)


def _sigs_with_anchor(spark, n_docs: int, anchor: int):
    """signatures whose bottom-16 sketch all contain ``anchor``."""
    rows = []
    for i in range(n_docs):
        # anchor first (smallest), then doc-unique ascending values
        sketch = [anchor] + [1000 + 100 * i + j for j in range(20)]
        rows.append((f"u{i:03d}", sketch))
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("sketch", T.ArrayType(T.LongType()), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_hot_anchor_salted_not_dropped(spark):
    # 30 docs share one anchor; bucket_cap=5 makes it HOT. Round-1 code
    # silently dropped the bucket (zero candidates); the salted path must
    # emit the complete 30*29/2 pair set exactly once each.
    cfg = DedupConfig(k=8, sketch_size=64, bucket_cap=5)
    sigs = _sigs_with_anchor(spark, 30, anchor=7)
    got = sorted(
        (r["url_a"], r["url_b"])
        for r in containment_candidates(sigs, cfg, n_anchors=16).collect()
    )
    expected = sorted(
        (f"u{a:03d}", f"u{b:03d}") for a in range(30) for b in range(a + 1, 30)
    )
    assert got == expected
