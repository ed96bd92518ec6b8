"""HTML → text extraction (functions/html.py)."""

import pytest

from rkmh_spark.functions.html import html_to_text


@pytest.mark.parametrize(
    "html,expect",
    [
        # script/style removed WITH contents, case-insensitive, dotall
        ("<p>keep</p><script>drop();\nme()</script>", "keep"),
        ("<STYLE type=x>.a color\nred</Style>tail", "tail"),
        # comments removed
        ("a<!-- hidden\ntext -->b", "a b"),
        # block closes and <br> become newlines; inline tags become spaces
        ("<h1>Title</h1><p>body</p>", "Title\nbody"),
        ("line one<br>line two<br/>line three", "line one\nline two\nline three"),
        ("<td>a</td><td>b</td>", "a b"),  # tags never fuse words
        ("x<b>y</b>z", "x y z"),  # strip-tags tradeoff, documented
        # entities, &amp; decoded last (one pass, no double-decode)
        ("&lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;lt;", "<tag> \"q\" 's' &lt;"),
        ("a&nbsp;&nbsp;b", "a b"),
        # whitespace normalization
        ("  a\t\tb  ", "a b"),
        ("<p>a</p>\n\n<p>b</p>", "a\nb"),
        # unclosed / bare text passes through
        ("no tags at all", "no tags at all"),
        ("", ""),
    ],
)
def test_html_to_text_rules(spark, html, expect):
    df = spark.createDataFrame([(html,)], "html string").select(
        html_to_text("html").alias("t")
    )
    # one codegen'd projection: no Python UDF evaluator, no Exchange
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan
    got = df.collect()[0]["t"]
    assert got == expect, (html, got, expect)
