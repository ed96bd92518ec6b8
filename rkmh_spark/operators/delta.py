"""Crawl-delta — diff two crawl snapshots at the canonical-url level:
which pages were added, removed, changed (same url, different content),
or unchanged. The incremental-pipeline primitive: a recrawl only needs
downstream processing (dedup, quality, tokenization) on added ∪
changed, which is typically a few percent of a 100 TB snapshot.

Shape: each side is first collapsed to one row per canonical url
(newest fetch — functions/urls.py::url_dedup), then the two sides meet
in ONE full-outer hash join on the canonical key. Content equality is
md5-of-text (engine-portable; at 10^12 rows swap for xxhash64 with one
keyword — both are content-keyed, so the delta is partitioning- and
retry-stable). No skew risk: canonical urls are unique per side by
construction after the collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.functions.urls import url_dedup


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    ts_col: str | None = None,
    content_hash: str = "md5",
) -> DataFrame:
    """(canonical_url, status ∈ added|removed|changed|unchanged,
    old_hash, new_hash). ``ts_col`` picks the newest fetch per canonical
    url within each snapshot before diffing (None → the url itself,
    fine when urls are unique per side)."""
    if content_hash == "md5":
        h = lambda c: F.md5(F.col(c).cast("string"))  # noqa: E731
    elif content_hash == "xxhash64":
        h = lambda c: F.xxhash64(F.col(c)).cast("string")  # noqa: E731
    else:
        raise ValueError(f"unknown content_hash {content_hash!r}")

    def side(df: DataFrame, out: str, flag: str) -> DataFrame:
        one = url_dedup(df, ts_col=ts_col or "url")
        # presence travels as its own flag: a NULL text column hashes to
        # NULL, and classifying on hash nullness would misreport a
        # present-but-textless page as absent (review r5)
        return one.select(
            "canonical_url", h("text").alias(out), F.lit(True).alias(flag)
        )

    o = side(old, "old_hash", "_in_old")
    n = side(new, "new_hash", "_in_new")
    joined = o.join(n, on="canonical_url", how="full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        "canonical_url", status.alias("status"), "old_hash", "new_hash"
    )
