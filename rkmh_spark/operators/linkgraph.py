"""Domain-level link graph from crawled HTML — the aggregation behind
seed selection, spam-domain detection, and crawl prioritization in a
web pipeline.

Reference analog: rkmh's read→reference hit aggregation (J5 membership
search + A11 per-class counts, /root/reference/src/rkmh.cpp:2666-2704)
— occurrences extracted per record, then counted per (source, target)
class pair; here the classes are registrable hosts.

Shape: one map-only projection (extract_links + host resolution, all
codegen regexps) -> explode -> one groupBy on (src_host, dst_host).
At 10^12 pages the single shuffle carries only the host-pair keys and
partial counts (map-side combine); hot pairs (intra-site navigation)
are bounded by per-site page counts, and the groupBy reducer sees one
partial row per map task, not one per link.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.functions.html import extract_links
from rkmh_spark.functions.urls import url_host


def _resolve_href_host(href, src):
    """href → target host under the docstring rules of
    ``domain_link_graph`` (absolute / protocol-relative / fragment /
    other-scheme / relative); shared by the link graph and the
    anchor-text aggregation so the two can never disagree on an edge."""
    return (
        F.when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), url_host(href))
        .when(href.startswith("//"), url_host(F.concat(F.lit("https:"), href)))
        .when(href.startswith("#"), F.lit(None).cast("string"))
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), F.lit(None))
        .otherwise(src)
    )


def domain_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """-> (src_host, dst_host, n_links): outlink counts between
    registrable hosts.

    href resolution, in order:
    - ``scheme://...``     -> url_host of the target (http/https only —
      mailto:/javascript:/data: parse to no host and are dropped);
    - ``//host/path``      -> protocol-relative, host taken directly;
    - ``#fragment``        -> dropped (same-page navigation, not a link);
    - anything else        -> relative path, resolves to the source host.

    Rows whose source url or resolved target have no host are dropped.
    """
    src = F.col("src_host")
    dst = _resolve_href_host(F.col("href"), src)
    return (
        pages.select(
            url_host(url_col).alias("src_host"),
            F.explode(extract_links(html_col)).alias("href"),
        )
        .select(src, dst.alias("dst_host"))
        .where(src.isNotNull() & F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def anchor_text_agg(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """-> (dst_host, anchor, n_links): how the web DESCRIBES each
    target host — anchor texts aggregated over every link pointing at
    it. The classic relevance/spam signal (anchor text was the original
    web-search ranking feature); in a training pipeline it yields
    per-domain descriptions and link-farm fingerprints (one anchor
    repeated across thousands of sources).

    Same href-resolution rules as ``domain_link_graph`` (shared
    ``_resolve_href_host``); anchors are normalized with
    ``clean_anchor_text`` and empty anchors (image links, whitespace)
    are dropped. Shape: map-only extraction → explode → ONE groupBy on
    (dst_host, anchor) with map-side combine. Hot keys ARE the signal
    here (a million identical anchors to one host is what the query
    exists to surface), and partial aggregation bounds the reducer at
    one row per map task per key, so no salting is needed.
    """
    from rkmh_spark.functions.html import clean_anchor_text, extract_anchors

    a = F.col("a")
    src = F.col("src_host")
    return (
        pages.select(
            url_host(url_col).alias("src_host"),
            F.explode(extract_anchors(html_col)).alias("a"),
        )
        .where(src.isNotNull())
        .select(
            _resolve_href_host(a["href"], src).alias("dst_host"),
            clean_anchor_text(a["anchor"]).alias("anchor"),
        )
        .where(F.col("dst_host").isNotNull() & (F.col("anchor") != ""))
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("n_links"))
    )
