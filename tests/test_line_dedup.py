"""CCNet/C4-style line-level dedup (operators/line_dedup.py)."""

from rkmh_spark.operators.line_dedup import line_dedup, window_text_lines


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_lines_dropped_order_kept(spark):
    boiler = "subscribe to our newsletter"
    rows = [
        (0, f"alpha one\n{boiler}\nalpha two"),
        (1, f"{boiler}\nbeta one\nbeta two"),
        (2, "gamma only unique lines\ngamma second"),
    ]
    out = {
        r["doc_id"]: r for r in line_dedup(_docs(spark, rows)).collect()
    }
    assert out[0]["text_dedup"] == "alpha one\nalpha two"
    assert out[1]["text_dedup"] == "beta one\nbeta two"
    assert out[2]["text_dedup"] == "gamma only unique lines\ngamma second"
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 2


def test_all_boilerplate_doc_becomes_empty(spark):
    rows = [(0, "same\nsame2"), (1, "same\nsame2"), (2, "same\nother")]
    out = {
        r["doc_id"]: r for r in line_dedup(_docs(spark, rows)).collect()
    }
    assert out[0]["text_dedup"] == "" and out[0]["n_kept"] == 0
    assert out[2]["text_dedup"] == "other"


def test_blank_lines_never_counted_as_boilerplate(spark):
    rows = [(0, "a\n\nb"), (1, "c\n\nd")]
    out = {
        r["doc_id"]: r for r in line_dedup(_docs(spark, rows)).collect()
    }
    # the empty middle line is shared by both docs but is kept
    assert out[0]["text_dedup"] == "a\n\nb"


def test_max_line_df_threshold(spark):
    rows = [(i, "common line\nuniq %d" % i) for i in range(3)]
    out2 = {
        r["doc_id"]: r
        for r in line_dedup(_docs(spark, rows), max_line_df=3).collect()
    }
    assert out2[0]["text_dedup"].startswith("common line")  # df=3 <= 3 kept


def test_window_text_lines_shapes(spark):
    rows = [(0, " ".join(f"w{i}" for i in range(23)))]
    out = window_text_lines(_docs(spark, rows)).collect()[0]["text"]
    lines = out.split("\n")
    assert len(lines) == 3
    assert lines[0] == " ".join(f"w{i}" for i in range(10))
    assert lines[2] == "w20 w21 w22"


def test_repetition_signals_fixture(spark):
    """Gopher repetition signals on a hand-computed fixture."""
    from rkmh_spark.functions.text import repetition_signals

    rows = [
        (0, "a b a b a"),       # words: a×3 b×2; bigrams: "a b"×2 "b a"×2
        (1, "x"),               # single word: zero bigrams
        (2, "u v w"),           # all unique
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_signals(_docs(spark, rows)).collect()
    }
    assert out[0]["n_words"] == 5 and out[0]["n_distinct_words"] == 2
    assert out[0]["top_words_count"] == 3
    assert out[0]["n_bigrams"] == 4 and out[0]["n_distinct_bigrams"] == 2
    assert out[0]["top_bigrams_count"] == 2
    assert out[1]["n_bigrams"] == 0 and out[1]["top_bigrams_count"] == 0
    assert out[2]["top_words_count"] == 1 and out[2]["n_bigrams"] == 2


def _py_line_dedup(rows, max_line_df=1):
    """Pure-Python line_dedup: (doc_id, n_lines, n_kept, text_dedup)."""
    df = {}
    for i, text in rows:
        for line in set(text.split("\n")):
            if line.strip():
                df[line] = df.get(line, 0) + 1
    out = []
    for i, text in rows:
        lines = text.split("\n")
        kept = [ln for ln in lines if df.get(ln, 0) <= max_line_df]
        out.append((i, len(lines), len(kept), "\n".join(kept)))
    return sorted(out)


def test_hash_keys_path_identical_and_hashes_in_shuffle(spark):
    """The xxhash64 line keys give the pure-Python output on the
    fixtures, and the executed plan shuffles on the hash key."""
    boiler = "subscribe to our newsletter"
    rows = [
        (0, f"alpha one\n{boiler}\nalpha two"),
        (1, f"{boiler}\nbeta one\nbeta two"),
        (2, "gamma only unique lines\ngamma second"),
        (3, ""),
        (4, "alpha one\n \nalpha one"),
    ]
    out = line_dedup(_docs(spark, rows))
    assert sorted(map(tuple, out.collect())) == _py_line_dedup(rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan  # the count/join shuffle keys on the hash


def _py_repetition(text):
    words = text.split(" ")
    bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]

    def stats(grams):
        counts = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        return [len(grams), len(counts), max(counts.values(), default=0)]

    return stats(words) + stats(bigrams)


def test_repetition_signals_match_python(spark):
    """The string-keyed groupby signals equal a pure-Python count over
    split-on-space words and their adjacent bigrams, including empty
    text, a single word and runs of spaces."""
    from rkmh_spark.functions.text import repetition_signals

    rows = [
        (0, "a a a b"),
        (1, "x y x y x"),
        (2, ""),
        (3, "single"),
        (4, "p q p q p q p q r"),
        (5, "m  m"),
    ]
    got = sorted(map(tuple, repetition_signals(_docs(spark, rows)).collect()))
    assert got == [(i, *_py_repetition(t)) for i, t in rows]


def test_gopher_quality_filter_flags(spark):
    """Each Gopher fail flag fires on a doc built to trip exactly it
    (plus word-count side effects where unavoidable)."""
    from rkmh_spark.functions.text import gopher_quality_filter

    good = "the cat sat on the mat and that dog have fun with everyone today"
    rows = [
        (0, good),                                  # passes everything
        (1, "the of and"),                          # too few words (min 5)
        (2, "a b c d e f g h i j the of"),          # mean word len < 3
        (3, "the### of### and### cat### dog### x"), # symbol ratio > 0.1
        (4, "1 2 3 4 5 6 7 8 9 10 the of"),         # alpha ratio < 0.8
        (5, "cat dog bird fish mouse horse cow"),   # < 2 Gopher stopwords
        (6, "the the the the the of cat dog"),      # top word > 0.2
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality_filter(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_words=5,
        ).collect()
    }
    assert out[0]["keep"]
    assert out[1]["fail_word_count"] and not out[1]["keep"]
    assert out[2]["fail_mean_word_len"] and not out[2]["keep"]
    assert out[3]["fail_symbol_ratio"] and not out[3]["keep"]
    assert out[4]["fail_alpha_ratio"] and not out[4]["keep"]
    assert out[5]["fail_stopwords"] and not out[5]["keep"]
    assert out[6]["fail_top_word"] and not out[6]["keep"]


def test_gopher_quality_filter_whitespace_and_either_rule(spark):
    """r4 review findings: (a) runs of whitespace must never register as
    a dominant repeated 'word' (repetition counts use the same
    empty-filtered tokens as every other signal); (b) the symbol rule is
    per-symbol ('either'), not a combined sum."""
    from rkmh_spark.functions.text import gopher_quality_filter

    rows = [
        # double spaces between 8 distinct words + stopwords: must KEEP
        (0, "the  cat  sat  on  mats  and  dogs  ran"),
        # 20 words, one '#' and one '...': each ratio 0.05 <= 0.1 → KEEP
        # (the combined-sum spelling would have dropped at 0.1 combined)
        (1, "the cat# sat on... the mat and that dog have fun with "
            "every body here now today again more"),
        # 10 words, two '#': hash ratio 0.2 > 0.1 → symbol fail
        (2, "the## cat## sat on the mat and that dog have"),
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality_filter(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_words=5,
        ).collect()
    }
    assert not out[0]["fail_top_word"]
    assert out[0]["keep"], dict(out[0].asDict())
    assert not out[1]["fail_symbol_ratio"]
    assert out[1]["keep"], dict(out[1].asDict())
    assert out[2]["fail_symbol_ratio"] and not out[2]["keep"]


def test_window_text_lines_matches_array_semantics_and_is_linear(spark):
    """VERDICT r4 #3: the regexp_replace respelling must be output-
    identical to the original slice-the-words-array semantics (a word is
    any [^ ]* run, INCLUDING empties between adjacent spaces) — checked
    against a pure-Python reference — and must handle a book-length
    (100k-word) row in linear time (the slice-in-lambda spelling was
    O(n²/words_per_line) per row)."""
    import time

    def reference(text, n=10):
        words = text.split(" ")
        return "\n".join(
            " ".join(words[i : i + n]) for i in range(0, len(words), n)
        )

    fixtures = [
        (0, ""),
        (1, "one"),
        (2, " ".join(f"w{i}" for i in range(9))),    # < N words
        (3, " ".join(f"w{i}" for i in range(10))),   # exactly N
        (4, " ".join(f"w{i}" for i in range(11))),   # N + 1
        (5, " ".join(f"w{i}" for i in range(23))),
        (6, "a  b   c " + " ".join("x" * 3 for _ in range(20))),  # empties
        (7, " leading and trailing "),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in window_text_lines(_docs(spark, fixtures)).collect()
    }
    for doc_id, text in fixtures:
        assert out[doc_id] == reference(text), (doc_id, out[doc_id])

    wide = (99, " ".join(f"w{i % 97}" for i in range(100_000)))
    t0 = time.perf_counter()
    got = window_text_lines(_docs(spark, [wide])).collect()[0]["text"]
    wall = time.perf_counter() - t0
    assert got == reference(wide[1])
    # the quadratic spelling took minutes on this row; linear is < ~2 s
    # even on a stormy host — generous bound to stay flake-free
    assert wall < 30, wall
