"""URL canonicalization for crawl dedup — pure relational (JVM regexp /
array expressions, no UDF), so Catalyst plans it and it runs inside
whole-stage codegen at any scale.

A crawl pipeline sees the same page under many url spellings; exact text
dedup catches the bodies, but url-level dedup (keep the newest fetch per
canonical url) is the standard cheap first pass before any sketching.
Rules applied (each visible in the tests):

1. scheme and host lowercased (path/query case preserved — case-
   significant on most servers);
2. default ports stripped (http:80, https:443);
3. fragment dropped (never sent to the server);
4. tracking query params removed (utm_*, gclid, fbclid, msclkid);
5. remaining query params sorted (param order is almost never
   significant; sorting makes spelling variants collide);
6. empty path → "/", single trailing slash stripped from non-root paths.

Urls without a scheme are returned unchanged — canonicalization must be
conservative on garbage input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"
# (=|$) not just "=": valueless spellings ('?gclid', '&utm_source') must
# also collide with their clean counterparts (ADVICE r4)
_TRACKING_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid)(=|$)"


def canonical_url(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(c, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(c, _HOST_RE, 1))
    default_port = F.when(scheme == "http", F.lit(":80")).otherwise(
        F.when(scheme == "https", F.lit(":443")).otherwise(F.lit(""))
    )
    host = F.when(
        (default_port != "") & hostport.endswith(default_port),
        F.substring(
            hostport, F.lit(1), F.length(hostport) - F.length(default_port)
        ),
    ).otherwise(hostport)
    rest = F.regexp_extract(c, _REST_RE, 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", "$1")
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )
    return F.when(scheme == "", c).otherwise(rebuilt)


def url_dedup(pages: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    """Keep the NEWEST fetch per canonical url (ties → lexicographically
    smallest raw url, deterministic). One shuffle on the canonical key;
    output adds the ``canonical_url`` column. The standard crawl first
    pass before content sketching — at 10^12 rows this is a single
    window over the canonical-url hash partitioning, no skew risk beyond
    ordinary hot hosts (one row per url spelling going in)."""
    w = Window.partitionBy("canonical_url").orderBy(
        F.desc(ts_col), F.asc("url")
    )
    return (
        pages.withColumn("canonical_url", canonical_url("url"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )

def url_host(url: Column | str) -> Column:
    """Lowercased registrable host (userinfo and port stripped); NULL
    for strings that don't parse as scheme://host urls. Pure JVM
    regexp — feeds per-domain aggregation, blocklists, and
    crawl-politeness stats. The authority is [userinfo@]host[:port]
    (userinfo may not contain a raw '@'), so one optional-group regexp
    peels both."""
    c = F.col(url) if isinstance(url, str) else url
    authority = F.lower(F.regexp_extract(c, _HOST_RE, 1))
    host = F.regexp_extract(authority, r"^(?:[^@]*@)?([^:@]*)", 1)
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-host crawl stats: page count, distinct canonical pages, and
    the id span (first/last fetch). One hash-aggregate shuffle on the
    host key with map-side partials; count_distinct over canonical urls
    is the only state that grows with domain size — at web scale swap it
    for approx_count_distinct (HLL) with one keyword, same plan shape.
    Non-url rows aggregate under the NULL host (kept: the volume of
    unparseable 'urls' is itself a corpus-quality signal)."""
    return (
        pages.withColumn("host", url_host("url"))
        .withColumn("canonical_url", canonical_url("url"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.count_distinct("canonical_url").alias("n_unique_pages"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
