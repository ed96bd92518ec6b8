"""Benchmark decontamination (operators/decontaminate.py)."""


def _ref_ngrams(text, n):
    w = [t for t in text.split(" ") if t]
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_word_ngrams_matches_reference(spark):
    from rkmh_spark.operators.decontaminate import word_ngrams
    from rkmh_spark.functions.text import tokens

    rows = [
        (0, "a b c d e"),
        (1, "a b"),          # shorter than n → []
        (2, ""),
        (3, "x  y   z w"),   # multi-space
        (4, "a a a a"),      # repeats preserved (distinct is caller's)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = df.select(
        "id", word_ngrams(tokens("text"), 3).alias("g")
    ).collect()
    got = {r["id"]: r["g"] for r in out}
    assert got[0] == ["a b c", "b c d", "c d e"]
    assert got[1] == [] and got[2] == []
    assert got[3] == ["x y z", "y z w"]
    assert got[4] == ["a a a", "a a a"]


def test_flag_contaminated_counts_and_flag(spark):
    from rkmh_spark.operators.decontaminate import flag_contaminated

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "bid long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "the quick brown fox ran away"),        # shares 2 distinct 3-grams
            (11, "completely different words here now"),
            (12, "fox jumps over the lazy dog indeed"),  # shares 4
            (13, "ab"),                                  # zero grams
            (14, ""),                                    # empty text
            (15, None),                                  # NULL text
        ],
        "doc_id long, text string",
    )
    for hk in (True, False):
        out = {
            r["doc_id"]: r
            for r in flag_contaminated(
                docs, bench, n=3, hash_keys=hk
            ).collect()
        }
        r10 = out[10]
        exp10 = _ref_ngrams("the quick brown fox ran away", 3)
        hits10 = exp10 & _ref_ngrams(
            "the quick brown fox jumps over the lazy dog", 3
        )
        assert (r10["n_grams"], r10["n_hit"]) == (len(exp10), len(hits10))
        assert r10["contaminated"] is True
        assert out[11]["n_hit"] == 0 and out[11]["contaminated"] is False
        assert out[12]["n_hit"] == 4 and out[12]["contaminated"] is True
        assert out[13] == (13, 0, 0, False)
        assert out[14] == (14, 0, 0, False)
        assert out[15] == (15, 0, 0, False)  # NULL text: 0/0, no task crash


def test_flag_contaminated_min_hits_threshold(spark):
    from rkmh_spark.operators.decontaminate import flag_contaminated

    bench = spark.createDataFrame(
        [(0, "p q r s t u")], "bid long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "p q r zz yy xx"), (2, "p q r s t zz")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in flag_contaminated(docs, bench, n=3, min_hits=2).collect()
    }
    assert out == {1: False, 2: True}  # doc 1: one hit; doc 2: three


def test_flag_contaminated_plan_broadcasts_bench(spark):
    """Corpus side must not shuffle for the join: bench is broadcast,
    and the only Exchange keys on the doc id (the groupBy)."""
    from rkmh_spark.operators.decontaminate import flag_contaminated

    bench = spark.createDataFrame([(0, "a b c d")], "bid long, text string")
    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(10)], "doc_id long, text string"
    )
    out = flag_contaminated(docs, bench, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
