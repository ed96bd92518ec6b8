"""Benchmark decontamination — flag training documents that share word
n-grams with an evaluation/benchmark set, the standard pre-training
hygiene pass (n-gram collision check, e.g. the 13-gram overlap rule used
for public-benchmark decontamination).

Shape at 100 TB: the benchmark side is tiny (suites are MBs) and is
DISTINCT-ed then broadcast — the corpus side never shuffles for the
join; per-doc gram counts are one hash-aggregate on the doc id, which is
the corpus's natural key (no skew). Gram join keys are xxhash64-hashed
8-byte ints by default (``hash_keys``) so neither the broadcast table
nor the aggregate carries full gram strings — the same shuffle-key
diet as line_dedup/repetition_signals (round 3 advice).

``word_ngrams`` is spelled as a zip_with chain over n top-level slices:
every slice is an evaluated-once ARGUMENT of the higher-order function,
never an element_at inside the lambda — the linear spelling the bigram
helper (functions/text.py) standardized after the r4 quadratic-lambda
incident.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def word_ngrams(words: Column, n: int) -> Column:
    """Adjacent n-word shingles ("w1 w2 ... wn") of a word array; empty
    for arrays with fewer than n words. Linear: n evaluated-once slices
    zipped elementwise."""
    if n < 1:
        raise ValueError("n must be >= 1")
    m = F.greatest(F.size(words) - n + 1, F.lit(0))
    acc = F.slice(words, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return acc


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    hash_keys: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap report: distinct n-gram count,
    how many of those grams appear anywhere in ``benchmark``, and a
    ``contaminated`` flag (``n_hit >= min_hits`` — the conventional
    any-collision rule at the default).

    Every input doc appears in the output (zero-gram docs report 0/0,
    not-contaminated). ``broadcast_bench=False`` falls back to a
    shuffled join for benchmark sets too large to broadcast."""
    bcol = bench_text_col or text_col

    def grams_of(df: DataFrame, tcol: str, keep_id: bool) -> DataFrame:
        from rkmh_spark.functions.text import tokens

        toks = df.withColumn("_toks", tokens(tcol))
        cols = [id_col] if keep_id else []
        g = toks.select(
            *cols,
            F.explode(F.array_distinct(word_ngrams(F.col("_toks"), n))).alias(
                "_g"
            ),
        )
        if hash_keys:
            g = g.select(*cols, F.xxhash64("_g").alias("_g"))
        return g

    bench = grams_of(benchmark, bcol, keep_id=False).distinct()
    if broadcast_bench:
        bench = F.broadcast(bench)
    doc_grams = grams_of(docs, text_col, keep_id=True)
    hits = (
        doc_grams.join(
            bench.withColumn("_hit", F.lit(1)), on="_g", how="left"
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return (
        docs.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )
