"""Deterministic synthetic Common-Crawl-style pages table with planted dups.

Mirrors the reference's test-data strategy — ground truth generated with a
fixed seed and carried alongside the data (rkmh encodes truth in filenames,
/root/reference/scripts/make_mix.py:7,33; we carry a ``true_cluster_id``
at the end of each ``generate_pages`` row instead, for recall scoring).

Schema per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Planted near-dup transformations (SURVEY.md §7.2 M0): identical mirror,
whitespace churn, token substitution at low rate, truncation, boilerplate
injection.
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "spark",
    "table", "scan", "merge", "window", "hash", "join", "order", "batch",
    "stream", "shuffle", "partition", "cluster", "signal", "vector", "token",
    "render", "market", "science", "journal", "report", "weather", "city",
    "music", "travel", "recipe", "garden", "engine", "planet", "silver",
    "bridge", "harbor", "meadow", "crystal", "lantern", "village", "summit",
]

_BOILER = (
    " | home | about | contact | privacy policy | subscribe to our newsletter"
)

_LANGS = ["en", "es", "de", "fr", "it"]


def pages_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )


def _base_text(rng: random.Random, n_tokens: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n_tokens))


def _mutate(rng: random.Random, text: str, kind: int) -> str:
    toks = text.split(" ")
    if kind == 0:  # identical mirror
        return text
    if kind == 1:  # whitespace churn: double spaces at a few positions
        out = []
        for t in toks:
            out.append(t)
            if rng.random() < 0.05:
                out.append("")
        return " ".join(out)
    if kind == 2:  # low-rate token substitution (~3%)
        return " ".join(
            rng.choice(_VOCAB) if rng.random() < 0.03 else t for t in toks
        )
    if kind == 3:  # truncation to 85%
        keep = max(8, int(len(toks) * 0.85))
        return " ".join(toks[:keep])
    # boilerplate injection
    return text + _BOILER


def generate_pages(
    n_clusters: int = 40,
    dup_rate: float = 0.5,
    seed: int = 42,
    min_tokens: int = 60,
    max_tokens: int = 120,
) -> list[tuple]:
    """Rows of (url, warc_ts, html, text, lang, true_cluster_id).

    ~``dup_rate`` of clusters get 2–4 near-dup members; the rest are
    singletons. Deterministic for a given seed.
    """
    rng = random.Random(seed)
    t0 = _dt.datetime(2026, 1, 1)
    rows: list[tuple] = []
    url_i = 0
    for c in range(n_clusters):
        base = _base_text(rng, rng.randint(min_tokens, max_tokens))
        n_members = rng.randint(2, 4) if rng.random() < dup_rate else 1
        for m in range(n_members):
            text = base if m == 0 else _mutate(rng, base, rng.randint(0, 4))
            url = f"https://site{c:04d}.example.com/page/{url_i}"
            ts = t0 + _dt.timedelta(minutes=url_i)
            html = ("<html><body><p>" + text + "</p></body></html>").encode()
            lang = rng.choice(_LANGS)
            rows.append((url, ts, html, text, lang, c))
            url_i += 1
    return rows


def pages_dataframe(
    spark: SparkSession,
    n_clusters: int = 40,
    dup_rate: float = 0.5,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """The ``generate_pages`` rows without their truth column."""
    rows = generate_pages(n_clusters=n_clusters, dup_rate=dup_rate, seed=seed)
    df = spark.createDataFrame([r[:5] for r in rows], schema=pages_schema())
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def documents_as_pages(documents: DataFrame) -> DataFrame:
    """Adapt /root/testdata documents(doc_id, text, lang, …) to the pages shape."""
    from pyspark.sql import functions as F

    return documents.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
