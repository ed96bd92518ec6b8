"""C4 cleaning rules (Raffel et al. 2020 §2.2): per-rule line fixtures,
page-level flags, full reporting, and empty-survivor behavior."""

from rkmh_spark.functions.c4 import c4_filter


def _run(spark, rows, min_sentences, bad_words=()):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = c4_filter(df, min_sentences=min_sentences, bad_words=bad_words)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_line_rules(spark):
    out = _run(
        spark,
        [
            # keep: ≥3 words + terminal '.'
            (1, "one good clean sentence."),
            # dropped: no terminal punctuation
            (2, "this line never terminates"),
            # dropped: only 2 words
            (3, "too short."),
            # dropped: javascript (case-insensitive)
            (4, "enable JavaScript to continue."),
            # keep: ends in closing quote
            (5, 'he said "three words here."'),
            # keep: ends in ? / !
            (6, "is this a question?\nwhat an exclamation!"),
        ],
        min_sentences=1,
    )
    assert out[1]["n_lines_kept"] == 1 and out[1]["keep"]
    assert out[2]["n_lines_kept"] == 0 and out[2]["kept_text"] == ""
    assert out[3]["n_lines_kept"] == 0
    assert out[4]["n_lines_kept"] == 0
    assert out[5]["n_lines_kept"] == 1
    assert out[6]["n_lines_kept"] == 2 and out[6]["n_sentences"] == 2


def test_page_rules(spark):
    base = "a perfectly clean sentence here.\nanother clean one follows it."
    out = _run(
        spark,
        [
            (1, base),
            (2, base + "\nLorem Ipsum dolor sit."),
            (3, base + "\ncode = { }"),
            (4, base + "\nthe verboten word appears here."),
            (5, "lone sentence survives."),
        ],
        min_sentences=2,
        bad_words=("verboten",),
    )
    assert out[1]["keep"]
    assert out[2]["fail_lorem"] and not out[2]["keep"]
    assert out[3]["fail_brace"] and not out[3]["keep"]
    assert out[4]["fail_badwords"] and not out[4]["keep"]
    assert out[5]["fail_sentences"] and not out[5]["keep"]
    # flags are independent: the lorem page fails only lorem
    assert not out[2]["fail_brace"] and not out[2]["fail_badwords"]


def test_badword_is_exact_token_match(spark):
    # substring hits must NOT fire (contrast with lorem, a phrase rule)
    out = _run(
        spark,
        [(1, "the verbotenness of things is fine.")],
        min_sentences=1,
        bad_words=("verboten",),
    )
    assert not out[1]["fail_badwords"] and out[1]["keep"]


def test_every_row_reported_and_kept_text_joined(spark):
    out = _run(
        spark,
        [(1, "first clean sentence here.\nskip me\nsecond clean one too!")],
        min_sentences=1,
    )
    assert out[1]["kept_text"] == (
        "first clean sentence here.\nsecond clean one too!"
    )
    assert out[1]["n_lines"] == 3 and out[1]["n_lines_kept"] == 2
