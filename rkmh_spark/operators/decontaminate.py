"""Benchmark decontamination — flag training documents that share word
n-grams with an evaluation/benchmark set, the standard pre-training
hygiene pass (n-gram collision check, e.g. the 13-gram overlap rule used
for public-benchmark decontamination).

Shape at 100 TB: the benchmark side is tiny (suites are MBs) and is
DISTINCT-ed then broadcast — the corpus side never shuffles for the
join; per-doc gram counts are one hash-aggregate on the doc id, which is
the corpus's natural key (no skew). Grams are 8-byte keys from
``functions.text.ngram_keys`` (the span_dedup / ngram_jaccard_pairs gram
identity), so neither the broadcast table nor the aggregate carries
gram strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.functions.text import ngram_keys


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Per-document benchmark-overlap report: distinct n-gram count,
    how many of those grams appear anywhere in ``benchmark``, and a
    ``contaminated`` flag (``n_hit >= min_hits`` — the conventional
    any-collision rule at the default).

    Every input doc appears in the output (zero-gram docs report 0/0,
    not-contaminated). A key collision (bound at ``ngram_keys``) can add
    a false hit, or fold two of one document's grams into one key."""

    def grams_of(df: DataFrame, *cols: str) -> DataFrame:
        th, keys = ngram_keys(df, n, "text", *cols)
        return th.select(*cols, F.explode(F.array_distinct(keys)).alias("_g"))

    bench = F.broadcast(grams_of(benchmark).distinct())
    doc_grams = grams_of(docs, "doc_id")
    hits = (
        doc_grams.join(
            bench.withColumn("_hit", F.lit(1)), on="_g", how="left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return (
        docs.select("doc_id")
        .join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )
