"""SimHash correctness + skew-guard semantics (VERDICT r1 §wrong-3).

The 64-bit vote/reassembly logic is checked against an INDEPENDENT
pure-Python oracle (own XXH64 implementation validated on the public
test vectors — rkmh_spark/functions/xxhash.py), and the banded candidate
join is checked for (a) the pigeonhole guarantee (≤3-bit Hamming
neighbors share ≥1 of 4 bands), (b) exact pair-set equality between the
plain and salted-hot-bucket paths.
"""

import pandas as pd
from pyspark.sql import functions as F

from rkmh_spark.functions.xxhash import simhash64, xxh64
from rkmh_spark.operators.dedup_exact import (
    simhash_band_candidates,
    simhash_signatures,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "spark shuffle partition cluster signal vector token"),
    (3, "render market science journal report weather city"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (5, "music travel recipe garden engine planet silver bridge"),
]


def test_spark_xxhash64_matches_independent_implementation(spark):
    toks = ["the", "quick", "Ω-unicode", "", "a" * 40, "0123456789abcdef0123456789abcdefXYZ"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {r["tok"]: r["h"] for r in df.select("tok", F.xxhash64("tok").alias("h")).collect()}
    for t in toks:
        assert got[t] == xxh64(t.encode("utf-8"), seed=42), t


def test_simhash_signatures_match_vote_oracle(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    for doc_id, text in DOCS:
        toks = [t for t in text.split(" ") if t != ""]
        assert got[doc_id] == simhash64(toks), f"doc {doc_id}"
    # exact dups must agree; far docs must differ
    assert got[0] == got[4]
    assert got[0] != got[2]


EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, " "),
    (3, "one"),
    (4, "a a a"),
    (5, "x  y  x"),
    (6, "  lead and  trail  "),
]


def test_simhash_edge_rows_match_vote_oracle(spark):
    """NULL, empty and whitespace-only texts get no row; a single token
    (here "a", whose xxhash64 has bit 63 set) votes its own hash; repeated
    tokens and runs of spaces count each distinct token once."""
    assert xxh64(b"a") < 0
    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    got = sorted(map(tuple, simhash_signatures(df).collect()))
    expected = []
    for doc_id, text in EDGE_DOCS:
        toks = [t for t in (text or "").split(" ") if t != ""]
        if toks:
            expected.append((doc_id, simhash64(toks)))
    assert got == expected
    assert dict(got)[4] == xxh64(b"a")


def _sig_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, simhash long")


def test_hamming_le3_neighbors_always_candidates(spark):
    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    flips = [
        [1], [17], [33], [63],                  # 1-bit, one per quarter
        [1, 17], [33, 63], [2, 3],              # 2-bit
        [1, 17, 33], [5, 21, 62], [2, 3, 4],    # 3-bit
    ]
    for i, bits in enumerate(flips, start=1):
        v = base
        for b in bits:
            v ^= 1 << b
        if v >= 1 << 63:
            v -= 1 << 64
        rows.append((i, v))
    pairs = simhash_band_candidates(_sig_df(spark, rows))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    for i in range(1, len(flips) + 1):
        assert (0, i) in got, f"≤3-bit neighbor {i} missed"


def test_all_quarters_differ_is_not_candidate(spark):
    base = 0x0123456789ABCDEF
    far = base ^ 0x0001000100010001  # one bit flipped in EVERY 16-bit band
    rows = [(0, base), (1, far)]
    pairs = simhash_band_candidates(_sig_df(spark, rows))
    assert pairs.count() == 0


def test_hot_bucket_salting_exact_pair_set(spark):
    # 30 docs with the IDENTICAL simhash → every band bucket has size 30;
    # with cap=5 all buckets are hot → salted path must emit exactly the
    # full 30*29/2 pair set, each pair once
    rows = [(i, 0x7777000012340000 + 0) for i in range(30)]
    rows = [(i, 0x123456789) for i, _ in enumerate(rows)]
    df = _sig_df(spark, rows)
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in simhash_band_candidates(df, bucket_cap=5).collect()
    )
    expected = sorted((a, b) for a in range(30) for b in range(a + 1, 30))
    assert got == expected


# ---- verified dup pairs (block → bit_count(xor) verify) ----------------

DUP_DOCS = DOCS + [
    # one-token edits of doc 2 — likely (not guaranteed) within hamming 3;
    # the brute-force oracle below decides, the test only requires parity
    (6, "spark shuffle partition cluster signal vector tokens"),
    (7, "spark shuffle partition cluster signal vector token extra"),
]


def _brute_pairs(max_hamming):
    sims = {}
    for doc_id, text in DUP_DOCS:
        sims[doc_id] = simhash64([t for t in text.split(" ") if t != ""])
    ids = sorted(sims)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sims[a] ^ sims[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= max_hamming:
                out[(a, b)] = h
    return out


def test_dup_pairs_match_bruteforce_hamming(spark):
    from rkmh_spark.operators.dedup_exact import simhash_dup_pairs

    df = spark.createDataFrame(DUP_DOCS, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_dup_pairs(df).collect()
    }
    assert got == _brute_pairs(3)
    # non-vacuity: the exact dup (0,4) must be present at hamming 0
    assert _brute_pairs(3)[(0, 4)] == 0


def test_dup_pairs_rejects_hamming_above_band_guarantee(spark):
    from rkmh_spark.operators.dedup_exact import simhash_dup_pairs

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    try:
        simhash_dup_pairs(df, max_hamming=4)
    except ValueError as e:
        assert "recall" in str(e)
    else:
        raise AssertionError("max_hamming=4 must be rejected")


def test_dup_pairs_lazy_plan_has_no_quadratic_join(spark, monkeypatch):
    # the result is a localCheckpoint scan, so the global plan gate
    # (test_plan_quality) would be vacuous on it; gate the plan the
    # checkpoint runs instead, with localCheckpoint stubbed to return the
    # frame unchanged (the released caches are replanned from source)
    from rkmh_spark.operators.dedup_exact import simhash_dup_pairs

    df = spark.createDataFrame(DUP_DOCS, "doc_id long, text string")
    monkeypatch.setattr(
        type(df), "localCheckpoint", lambda self, *a, **k: self
    )
    try:
        lazy = simhash_dup_pairs(df)
    finally:
        monkeypatch.undo()
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
