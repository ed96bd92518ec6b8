"""Exact duplicated-span detection — the "suffix-array substring pass"
of the north rule, re-grounded relationally (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better": remove
verbatim substrings of >= N tokens that occur more than once in the
corpus).

Reference analog: rkmh's J8 string-kmer intersection compares documents
through their exact k-substring sets (/root/reference/src/rkmh.cpp:
1451-1469 kmerize + hash-set intersect); this operator lifts the same
exact-substring evidence from pair scoring to corpus-wide span mining.

A classical suffix array is a global sorted structure — the wrong shape
for a shuffle-based engine. The relational equivalent used here:

1. word L-grams per document as 8-byte keys (``functions.text.
   ngram_keys``: per-token xxhash64 folded with xxhash64(a, b)); zero
   shuffle, zero Python, no gram string is ever built.
2. posexplode -> (doc, pos, key); a groupBy occurrence count over the
   key + a join back mark the positions whose L-gram occurs more than
   once corpus-wide.
3. gaps-and-islands per document merges overlapping/adjacent duplicated
   grams into maximal spans: a new island starts where the gap to the
   previous duplicated position exceeds L (one shuffle, on doc id).

Cost: O(total_tokens * L) long folds of key construction map-side;
shuffles: gram-count groupBy, join back on the gram key, island window
on doc id. At 100 TB the gram shuffle dominates; it carries 8-byte
keys, map-side partial aggregation bounds the count reducers,
and the hot-key join back is one replicated count row per key — the
shape AQE's skew-join split handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rkmh_spark.functions.text import ngram_keys, tokens


def duplicated_spans(
    documents: DataFrame,
    min_len: int = 20,
    hash_keys: bool = True,
) -> DataFrame:
    """-> (doc_id, span_start, span_end, n_dup_grams): maximal word-index
    spans [span_start, span_end) in which EVERY ``min_len``-gram occurs
    more than once corpus-wide (counting within-document repeats too —
    a page that repeats its own boilerplate twice is a dup of itself).

    Span semantics: duplicated gram positions p, q merge into one span
    when q - p <= min_len (their gram windows overlap or touch), so
    span_end - span_start >= min_len and every reported span is a
    maximal duplicated region, the island form of Lee et al.'s "remove
    substrings of >= 50 tokens seen before".

    Grams are 8-byte keys from ``functions.text.ngram_keys`` (its
    docstring states the collision bound). ``hash_keys`` accepts only
    ``True``: it is kept because the benchmark passes it explicitly.
    """
    if hash_keys is not True:
        raise ValueError("duplicated_spans keys grams by 8-byte hash only")
    th, keys = ngram_keys(documents, min_len, "text", "doc_id")
    grams = th.select("doc_id", F.posexplode(keys).alias("pos", "_k"))
    # groupBy + join back (the line_dedup spelling), NOT a count window:
    # a window count buffers each gram's whole partition in WindowExec —
    # a hot boilerplate gram at web scale is a one-reducer spill bomb —
    # while groupBy partial-aggregates map-side (reducer sees one row
    # per map task per key) and the join back replicates the single
    # count row, which AQE's skew-join split then handles.
    dup_keys = (
        grams.groupBy("_k").agg(F.count("*").alias("_occ"))
        .where(F.col("_occ") > 1)
        .select("_k")
    )
    dup = grams.join(dup_keys, "_k")

    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    brk = F.when(gap <= min_len, F.lit(0)).otherwise(F.lit(1))  # NULL -> 1
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dup.select("doc_id", "pos", island.alias("_island"))
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_len)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .drop("_island")
    )


def strip_spans(
    documents: DataFrame,
    spans: DataFrame,
) -> DataFrame:
    """-> documents with ``text_stripped``: the text with every span's
    words removed (word indices in [span_start, span_end) dropped,
    survivors rejoined with single spaces).

    Removes ALL occurrences, not all-but-one: keeping a canonical copy
    needs a global first-occurrence election per duplicated region
    (another shuffle + tie-break rules); pipelines that want one
    surviving copy run exact/near dedup first, where the cluster
    representative already plays that role. Documented tradeoff.

    The span list rides a per-document array column (collect_list after
    a groupBy on doc_id — spans per doc are few), and the word filter is one
    two-arg F.filter whose index lambda probes that array; map-side
    after the single join, no extra shuffle.
    """
    sp = (
        spans.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("_spans")
        )
    )
    words = tokens("text")
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("_spans"), lambda sp_: (i >= sp_["s"]) & (i < sp_["e"])
    )
    kept = F.filter(words, lambda wd, i: ~in_span(i))
    return (
        documents.join(sp, "doc_id", "left")
        .withColumn(
            "text_stripped",
            F.when(F.col("_spans").isNull(), F.col("text")).otherwise(
                F.concat_ws(" ", kept)
            ),
        )
        .drop("_spans")
    )
