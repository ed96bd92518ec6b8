"""HTML → text extraction — the step upstream of every other operator in
a web-corpus pipeline (crawl WARC payloads are HTML; dedup/quality/LSH
all want visible text).

Pure relational: a fixed chain of regexp_replace expressions, so the
whole extraction runs inside whole-stage codegen on the JVM — no Python
UDF, linear per row, and trivially DuckDB-oracle-able. This is the
classic "strip tags" extractor (the approach of C4 / CCNet-era pipelines
before DOM-tree extractors), not a browser: no JS execution, no CSS
visibility, no DOM reordering. Semantics, each step visible in tests:

1. ``<script>``/``<style>`` elements are removed WITH their contents
   (case-insensitive, dotall — code and CSS are not text);
2. HTML comments removed;
3. block-level boundaries become newlines: ``<br>`` and the CLOSING tags
   of p/div/li/tr/h1-h6/ul/ol/table/section/article/blockquote;
4. every remaining tag becomes a single space (a space, not empty:
   ``<td>a</td><td>b</td>`` must not fuse words — the standard
   strip-tags tradeoff, collapsed in step 6);
5. the five XML entities + &nbsp; + numeric &#39; are decoded, &amp;
   LAST so ``&amp;lt;`` decodes to the literal ``&lt;`` (one pass, as
   per the entity-reference spec);
6. horizontal whitespace runs collapse to one space, spaces around
   newlines drop, newline runs collapse to one, ends trimmed.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_BLOCK_BREAK_RE = (
    r"(?i)<(?:br\s*/?|/(?:p|div|li|tr|h[1-6]|ul|ol|table|section|article"
    r"|blockquote))\s*>"
)


def html_to_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, _BLOCK_BREAK_RE, "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    c = F.regexp_replace(c, r"&nbsp;", " ")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", "\"")
    c = F.regexp_replace(c, r"&#0*39;|&apos;", "'")
    c = F.regexp_replace(c, r"&amp;", "&")
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def extract_links(col: Column | str) -> Column:
    """Array of <a href> targets, document order within each quote
    style (double-quoted matches first, then single-quoted — one
    regexp_extract_all per style because a capture-group index cannot
    span an alternation). Unquoted href values are not extracted
    (vanishingly rare in real crawls and ambiguous to delimit).
    Pure JVM, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    dq = F.regexp_extract_all(
        c, F.lit(r'(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"'), F.lit(1)
    )
    sq = F.regexp_extract_all(
        c, F.lit(r"(?is)<a\s[^>]*?href\s*=\s*'([^']*)'"), F.lit(1)
    )
    return F.concat(dq, sq)


def extract_anchors(col: Column | str) -> Column:
    """Array of (href, anchor) structs — the link target together with
    its anchor text (raw inner markup of the <a> element, untouched;
    clean it with ``clean_anchor_text``). Same quote-style handling and
    ordering contract as ``extract_links``: double-quoted matches first,
    then single-quoted, document order within each. Alignment holds
    because BOTH regexp_extract_all calls per style use the SAME
    pattern — only the capture-group index differs. Non-greedy ``.*?``
    up to the first ``</a>``; anchors containing a nested ``</a>`` (an
    HTML error) truncate there. Pure JVM, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    for dq_pat in (
        r'(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>',
        r"(?is)<a\s[^>]*?href\s*=\s*'([^']*)'[^>]*>(.*?)</a\s*>",
    ):
        pat = F.lit(dq_pat)
        out.append(
            F.arrays_zip(
                F.regexp_extract_all(c, pat, F.lit(1)).alias("href"),
                F.regexp_extract_all(c, pat, F.lit(2)).alias("anchor"),
            )
        )
    return F.concat(*out)


def clean_anchor_text(col: Column) -> Column:
    """Anchor markup → comparable text key: strip inner tags to spaces,
    decode the common entities, collapse whitespace, trim, lowercase.
    The standard normalization before aggregating anchors per target
    (anchor text is a first-class relevance/spam signal in web-graph
    pipelines)."""
    c = F.regexp_replace(col, r"(?s)<[^>]*>", " ")
    c = F.regexp_replace(c, r"&nbsp;", " ")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", "\"")
    c = F.regexp_replace(c, r"&#0*39;|&apos;", "'")
    c = F.regexp_replace(c, r"&amp;", "&")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.lower(F.trim(c))
