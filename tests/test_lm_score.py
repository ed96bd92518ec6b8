"""Unigram-LM cross-entropy scoring (operators/lm_score.py)."""

import math

from pyspark.sql import functions as F


def _ref_bpt(doc_text, corpus_texts, alpha=1.0):
    toks = lambda t: [w for w in t.split(" ") if w]  # noqa: E731
    counts = {}
    for t in corpus_texts:
        for w in toks(t):
            counts[w] = counts.get(w, 0) + 1
    T, V = sum(counts.values()), len(counts)
    d = toks(doc_text)
    if not d:
        return 0, None
    h = -sum(
        math.log2((counts.get(w, 0) + alpha) / (T + alpha * (V + 1)))
        for w in d
    ) / len(d)
    return len(d), round(h, 4)


def test_lm_score_matches_reference(spark):
    from rkmh_spark.operators.lm_score import lm_score

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog",
        "",
        "rare unique tokens here",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm_score(df).collect()}
    for i, t in enumerate(texts):
        n, bpt = _ref_bpt(t, texts)
        assert got[i]["n_tokens"] == n, i
        if bpt is None:
            assert got[i]["bits_per_token"] is None
        else:
            assert abs(got[i]["bits_per_token"] - bpt) < 1e-9, i
    # common-word docs score fewer bits than the rare-token doc
    assert got[0]["bits_per_token"] < got[4]["bits_per_token"]


def test_lm_score_separate_reference_and_oov(spark):
    """Docs scored against a DIFFERENT reference: OOV tokens take the
    alpha floor and dominate the score."""
    from rkmh_spark.operators.lm_score import lm_score

    ref = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta alpha")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "zz qq ww")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in lm_score(docs, ref=ref).collect()
    }
    n, bpt = _ref_bpt(
        "alpha beta", ["alpha beta gamma alpha beta alpha"]
    )
    assert got[1]["n_tokens"] == 2
    assert abs(got[1]["bits_per_token"] - bpt) < 1e-9
    n2, bpt2 = _ref_bpt("zz qq ww", ["alpha beta gamma alpha beta alpha"])
    assert abs(got[2]["bits_per_token"] - bpt2) < 1e-9
    assert got[2]["bits_per_token"] > got[1]["bits_per_token"]


def test_lm_score_hot_tail_split_identical(spark):
    """The hot/tail two-path join is an optimization, not semantics:
    all-broadcast (hot_df=0 → everything hot) and all-shuffle
    (hot_df=huge → everything tail) agree with the default."""
    from rkmh_spark.operators.lm_score import lm_score

    df = spark.createDataFrame(
        [
            (i, " ".join(["common"] * 5 + [f"rare{i}"]))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    outs = [
        sorted(map(tuple, lm_score(df, hot_df=h).collect()))
        for h in (0, 2, 10**9)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_lm_score_tail_join_has_no_hot_keys(spark, monkeypatch):
    """Plan sanity: the hot path is a BroadcastHashJoin; no cartesian
    anywhere; the doc aggregate keys on doc_id. lm_score eagerly
    checkpoints its vocabulary and the hot-joined table, which would
    truncate the plan under inspection, so localCheckpoint is stubbed to
    return the frame unchanged and the whole lineage stays in one plan."""
    from rkmh_spark.operators.lm_score import lm_score

    df = spark.createDataFrame(
        [(i, "w x y z") for i in range(10)], "doc_id long, text string"
    )
    monkeypatch.setattr(
        type(df), "localCheckpoint", lambda self, *a, **k: self
    )
    try:
        lazy = lm_score(df)
    finally:
        monkeypatch.undo()
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
