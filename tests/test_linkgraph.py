"""Link extraction + domain link graph: href forms, resolution rules,
plan shape."""

from pyspark.sql import functions as F

from rkmh_spark.functions.html import extract_links
from rkmh_spark.operators.linkgraph import domain_link_graph


def test_extract_links_forms(spark):
    html = (
        '<p><a href="https://a.ex/1">x</a>'
        '<A CLASS="big" HREF="https://a.ex/2">y</A>'
        "<a title='t' href='https://a.ex/3'>z</a>"
        '<a name="anchor-no-href">w</a>'
        "<a href=https://a.ex/unquoted>not extracted</a></p>"
    )
    got = (
        spark.createDataFrame([(html,)], "html string")
        .select(extract_links("html").alias("l"))
        .first()["l"]
    )
    assert got == ["https://a.ex/1", "https://a.ex/2", "https://a.ex/3"]


def test_domain_link_graph_resolution(spark):
    rows = [
        (
            "https://src.ex/p1",
            '<a href="https://dst.ex/a">1</a>'
            '<a href="//cdn.ex/lib.js">2</a>'
            '<a href="/about">3</a>'
            '<a href="page2.html">4</a>'
            '<a href="#top">5</a>'
            '<a href="mailto:x@y.z">6</a>'
            '<a href="javascript:void(0)">7</a>'
            '<a href="https://dst.ex/b">8</a>',
        ),
        ("not a url", '<a href="https://dst.ex/c">9</a>'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in domain_link_graph(df).collect()
    }
    # absolute x2, protocol-relative, two relatives -> self; fragment,
    # mailto, javascript dropped; hostless source row dropped
    assert got == {
        ("src.ex", "dst.ex"): 2,
        ("src.ex", "cdn.ex"): 1,
        ("src.ex", "src.ex"): 2,
    }


def test_linkgraph_plan_no_quadratic(spark):
    df = spark.createDataFrame(
        [("https://a.ex/1", '<a href="https://b.ex/x">l</a>')],
        "url string, html string",
    )
    plan = domain_link_graph(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_anchors_pairs_and_cleaning(spark):
    from rkmh_spark.functions.html import clean_anchor_text, extract_anchors
    from pyspark.sql import functions as F

    html = (
        '<a href="https://a.com/x">Read <b>more</b>&nbsp;now</a>'
        "<a href='https://b.com/y'> NEXT  Item </a>"
        '<a href="/img"><img src="x.png"/></a>'
        '<a href="/amp">Home&amp;Garden</a>'
    )
    df = spark.createDataFrame([(html,)], "html string")
    rows = (
        df.select(F.explode(extract_anchors("html")).alias("a"))
        .select(
            F.col("a.href").alias("href"),
            clean_anchor_text(F.col("a.anchor")).alias("anchor"),
        )
        .collect()
    )
    got = {(r["href"], r["anchor"]) for r in rows}
    assert got == {
        ("https://a.com/x", "read more now"),
        ("https://b.com/y", "next item"),
        ("/img", ""),  # image-only anchor cleans to empty
        ("/amp", "home&garden"),
    }


def test_anchor_text_agg_resolution_and_counts(spark):
    from rkmh_spark.operators.linkgraph import anchor_text_agg

    rows = [
        ("https://src.org/1", '<a href="https://t.com/a">Buy Now</a>'),
        ("https://src.org/2", '<a href="https://t.com/b">buy   now</a>'),
        ("https://src.org/3", '<a href="/local">Local Page</a>'),
        ("https://src.org/4", '<a href="#frag">Skip</a>'),
        ("https://src.org/5", '<a href="mailto:x@y.z">Mail</a>'),
        ("https://src.org/6", '<a href="/img"><img src="i.png"/></a>'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {
        (r["dst_host"], r["anchor"]): r["n_links"]
        for r in anchor_text_agg(df).collect()
    }
    # whitespace-normalized anchors collide; fragment/mailto/empty drop
    assert got == {
        ("t.com", "buy now"): 2,
        ("src.org", "local page"): 1,
    }
