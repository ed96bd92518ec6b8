"""TF-IDF weighting / top terms (operators/tfidf.py)."""

import math


def test_tfidf_matches_reference(spark):
    from rkmh_spark.operators.tfidf import tfidf

    texts = {
        0: "apple apple banana cherry",
        1: "banana cherry cherry date",
        2: "apple date date date",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["token"]): r for r in tfidf(df).collect()
    }
    # reference computation
    toks = {i: t.split(" ") for i, t in texts.items()}
    dfreq = {}
    for i, ws in toks.items():
        for w in set(ws):
            dfreq[w] = dfreq.get(w, 0) + 1
    for i, ws in toks.items():
        for w in set(ws):
            tf = ws.count(w)
            expect = round(tf * math.log(3 / dfreq[w]), 4)
            r = got[(i, w)]
            assert (r["tf"], r["df"]) == (tf, dfreq[w]), (i, w)
            assert abs(r["tfidf"] - expect) < 1e-9, (i, w)
    assert len(got) == sum(len(set(ws)) for ws in toks.values())


def test_tfidf_max_df_drops_boilerplate(spark):
    from rkmh_spark.operators.tfidf import tfidf

    df = spark.createDataFrame(
        [(i, "common special" + str(i % 2)) for i in range(10)],
        "doc_id long, text string",
    )
    out = tfidf(df, max_df=5).collect()
    assert all(r["token"] != "common" for r in out)   # df=10 > 5
    assert {r["token"] for r in out} == {"special0", "special1"}


def test_tfidf_n_docs_param_skips_count_and_matches(spark):
    from rkmh_spark.operators.tfidf import tfidf

    df = spark.createDataFrame(
        [(i, "a b c") for i in range(7)], "doc_id long, text string"
    )
    a = sorted(map(tuple, tfidf(df).collect()))
    b = sorted(map(tuple, tfidf(df, n_docs=7).collect()))
    assert a == b
