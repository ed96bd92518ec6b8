"""Exact duplicated-span mining (Lee et al. 2022 style) — planted-span
fixtures, within-doc repeats, island merging, strip reassembly, and the
hash-keyed scale spelling."""

import pytest

from rkmh_spark.functions.text import ngram_keys
from rkmh_spark.functions.xxhash import xxh64
from rkmh_spark.operators.span_dedup import duplicated_spans, strip_spans

L = 5


def _py_keys(text, n):
    """Pure-Python gram keys: Spark's xxhash64(a, b) over longs is
    hashLong(b, hashLong(a, 42)), and hashLong is XXH64 of the 8
    little-endian bytes, so the oracle re-derives every key from bytes."""

    def h2(a, b):
        s = xxh64(a.to_bytes(8, "little", signed=True))
        return xxh64(b.to_bytes(8, "little", signed=True), seed=s)

    th = [xxh64(w.encode()) for w in text.split(" ") if w]
    keys = []
    for i in range(len(th) - n + 1):
        k = th[i]
        for t in th[i + 1 : i + n]:
            k = h2(k, t)
        keys.append(k)
    return keys


def _keys(spark, text, n):
    th, keys = ngram_keys(spark.createDataFrame([(text,)], "text string"), n, "text")
    return th.select(keys.alias("k")).first()["k"]


def _w(prefix, n, start=0):
    return " ".join(f"{prefix}{i:03d}" for i in range(start, start + n))


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(df, hash_keys=True):
    out = duplicated_spans(df, min_len=L, hash_keys=hash_keys)
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in out.collect()
    )


def test_word_ngrams_basic(spark):
    """One key per n-token window, in token order, equal to the
    pure-Python fold; fewer than n tokens gives no key."""
    for n in (2, 4):
        got = _keys(spark, "a b c d", n)
        assert got == _py_keys("a b c d", n) and len(got) == 5 - n
    assert _keys(spark, "a b c d", 5) == []
    # order-sensitive: the same tokens in another order are another gram
    assert _keys(spark, "a b", 2) != _keys(spark, "b a", 2)


def test_planted_cross_doc_span(spark):
    """Two docs share a verbatim 8-word run mid-document; everything
    else is unique. Exactly one span per doc, covering the run."""
    shared = _w("s", 8)
    df = _df(
        spark,
        [
            (1, f"{_w('a', 6)} {shared} {_w('b', 6)}"),
            (2, f"{_w('c', 10)} {shared} {_w('d', 3)}"),
            (3, _w("e", 30)),
        ],
    )
    # doc1: run occupies word indices 6..13 -> grams 6..9 dup ->
    # span [6, 9+L) = [6, 14); doc2: indices 10..17 -> span [10, 18)
    assert _spans(df) == [(1, 6, 14, 4), (2, 10, 18, 4)]


def test_within_doc_repeat_counts_as_duplicated(spark):
    """A document repeating its own 6-word block twice gets both
    occurrences flagged (occurrence count is corpus-wide, not
    distinct-doc)."""
    block = _w("r", 6)
    df = _df(spark, [(1, f"{block} {_w('x', 7)} {block}")])
    # occurrences at 0..5 and 13..18: grams 0,1 and 13,14 dup ->
    # spans [0,6) and [13,19)
    assert _spans(df) == [(1, 0, 6, 2), (1, 13, 19, 2)]


def test_adjacent_islands_merge(spark):
    """Two duplicated runs whose gram windows touch merge into ONE
    maximal span; a far-apart run stays separate."""
    r1, r2 = _w("p", 6), _w("q", 6)
    df = _df(
        spark,
        [
            # r1 at 0..5, r2 at 6..11 (adjacent), r1 again at 20..25
            (1, f"{r1} {r2} {_w('x', 8)} {r1}"),
            # the partners that make r1/r2 duplicated
            (2, f"{r1} {_w('y', 9)}"),
            (3, f"{r2} {_w('z', 9)}"),
        ],
    )
    got = _spans(df)
    # doc1: dup gram starts 0,1 (r1) + 6,7 (r2) merge (6-1 <= L);
    # 20,21 (r1 again) is its own island
    assert (1, 0, 12, 4) in got and (1, 20, 26, 2) in got
    assert (2, 0, 6, 2) in got and (3, 0, 6, 2) in got
    assert len(got) == 4


def test_short_and_empty_docs_yield_no_spans(spark):
    df = _df(spark, [(1, _w("a", L - 1)), (2, ""), (3, "   ")])
    assert _spans(df) == []


def test_hash_keys_path_identical(spark):
    """The hashed spans equal the hand-computed ones, the plan keys the
    gram shuffle on xxhash64, and no other key spelling is accepted."""
    shared = _w("s", 9)
    df = _df(
        spark,
        [
            (1, f"{_w('a', 4)} {shared}"),
            (2, f"{shared} {_w('b', 11)}"),
            (3, _w("u", 25)),
        ],
    )
    # the 9-word run holds 5 dup 5-grams: doc1 at words 4..12 -> grams
    # 4..8 -> span [4, 13); doc2 at words 0..8 -> span [0, 9)
    assert _spans(df) == [(1, 4, 13, 5), (2, 0, 9, 5)]
    assert _spans(df, hash_keys=True) == _spans(df)
    plan = (
        duplicated_spans(df, min_len=L)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan
    # one tokenize per gram branch (join side + census): an inferred
    # explode filter pushed below the token-hash projection would
    # re-tokenize once per gram slice
    assert plan.count("split(") == 2
    with pytest.raises(ValueError):
        duplicated_spans(df, min_len=L, hash_keys=False)


def test_strip_spans_removes_all_occurrences(spark):
    block = _w("r", 6)
    keep1, keep2 = _w("x", 7), _w("y", 4)
    df = _df(
        spark,
        [
            (1, f"{block} {keep1} {block}"),
            (2, f"{keep2} {block}"),
            (3, _w("z", 12)),
        ],
    )
    spans = duplicated_spans(df, min_len=L)
    got = {
        r["doc_id"]: r["text_stripped"]
        for r in strip_spans(df, spans).collect()
    }
    assert got[1] == keep1
    assert got[2] == keep2
    assert got[3] == _w("z", 12)  # untouched (no spans -> original text)


def test_no_quadratic_join_and_two_shuffles(spark):
    df = _df(spark, [(i, _w("t", 30, start=i)) for i in range(6)])
    q = duplicated_spans(df, min_len=L)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two Exchanges: gram-count window + per-doc island window/groupBy
    # (AQE may add reads, not new shuffles); createDataFrame's parallelize
    # contributes none
    assert plan.count("Exchange hashpartitioning") <= 3


@pytest.mark.parametrize("n", [0, 1])
def test_degenerate_ngram_sizes(spark, n):
    if n == 0:
        df = spark.createDataFrame([("a",)], "text string")
        with pytest.raises(ValueError):
            ngram_keys(df, 0, "text")
    else:
        # n = 1: one key per token, the token's own xxhash64
        assert _keys(spark, "a b", 1) == [xxh64(b"a"), xxh64(b"b")]
