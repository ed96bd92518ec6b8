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

1. word L-grams per document, built with chained zip_with over slices
   (argument expressions evaluate once per row — the interpreted-lambda
   element_at trap text.py:_adjacent_bigrams documents is avoided);
   zero shuffle, zero Python.
2. posexplode -> (doc, pos, gram); a groupBy occurrence count over the
   gram key + a join back mark the positions whose L-gram occurs more
   than once corpus-wide. ``hash_keys=True`` shuffles xxhash64(gram) —
   8 bytes — instead of the gram string: the 10^12-doc spelling (same
   contract as line_dedup.hash_keys; identical output on collision-free
   data).
3. gaps-and-islands per document merges overlapping/adjacent duplicated
   grams into maximal spans: a new island starts where the gap to the
   previous duplicated position exceeds L (one shuffle, on doc id).

Cost: O(total_tokens * L) characters of gram construction map-side;
shuffles: gram-count groupBy, join back on the gram key, island window
on doc id. At 100 TB the gram shuffle dominates; hash_keys shrinks it
to 8-byte keys, map-side partial aggregation bounds the count reducers,
and the hot-key join back is one replicated count row per key — the
shape AQE's skew-join split handles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rkmh_spark.functions.text import tokens


def _word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams; empty when len(words) < n.

    Chained zip_with over n shifted slices — each slice/zip_with is an
    ARGUMENT expression (evaluated once per row), never an element_at
    inside a lambda (the quadratic interpreted path, text.py r4)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    m = F.size(words) - F.lit(n - 1)  # gram count (may be <= 0)
    safe_m = F.greatest(m, F.lit(0))
    acc = F.slice(words, 1, safe_m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, j + 1, safe_m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(m >= 1, acc).otherwise(F.array().cast("array<string>"))


def _hash_ngram_keys(token_hashes: Column, n: int) -> Column:
    """Array of 8-byte n-gram keys folded from per-token xxhash64 values:
    key[i] = fold(th[i], th[i+1], ..., th[i+n-1]) with xxhash64(a, b) as
    the (order-sensitive) combiner. Key-equal ⇔ gram-equal modulo hash
    collisions — the same contract as ``hash_keys`` in line_dedup. Each
    fold step is O(1) per element, vs the O(gram-chars) copy of the
    concat_ws string build, so the n-1 zip_with passes cost O(n) longs
    per position instead of O(n²) chars (measured ~4× on the benched
    20-gram dup_spans build).

    Collision bound: n distinct grams hashed to 64 bits give about
    n²/2⁶⁵ colliding pairs (birthday bound) — about 0.03 at 10⁹ distinct
    grams and about 2.7·10⁴ at 10¹². Equal grams always get equal keys,
    so a collision can only make two different grams look equal: it adds
    a false shared gram and never loses a true one. In ``span_dedup`` it
    can mark a unique position as duplicated, in ``line_dedup`` (xxhash64
    line keys, same bound) it can drop a unique line as a repeat, and in
    ``ngram_jaccard_pairs`` it can raise a pair's shared count by one (or,
    inside one document, fold two of its grams into one key)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    m = F.size(token_hashes) - F.lit(n - 1)  # gram count (may be <= 0)
    safe_m = F.greatest(m, F.lit(0))
    acc = F.slice(token_hashes, 1, safe_m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(token_hashes, j + 1, safe_m),
            lambda a, b: F.xxhash64(a, b),
        )
    return F.when(m >= 1, acc).otherwise(F.array().cast("array<bigint>"))


def duplicated_spans(
    documents: DataFrame,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_keys: bool = False,
) -> DataFrame:
    """-> (id, span_start, span_end, n_dup_grams): maximal word-index
    spans [span_start, span_end) in which EVERY ``min_len``-gram occurs
    more than once corpus-wide (counting within-document repeats too —
    a page that repeats its own boilerplate twice is a dup of itself).

    Span semantics: duplicated gram positions p, q merge into one span
    when q - p <= min_len (their gram windows overlap or touch), so
    span_end - span_start >= min_len and every reported span is a
    maximal duplicated region, the island form of Lee et al.'s "remove
    substrings of >= 50 tokens seen before".
    """
    if hash_keys:
        # hashed spelling: per-token xxhash64 once (materialized as a
        # column so the 20 slice references share ONE tokenize+hash pass,
        # not 20 re-evaluations of the tokens() subtree), then the O(1)
        # fold builds 8-byte keys directly — gram strings never exist
        toks = documents.select(
            F.col(id_col).alias("id"),
            F.transform(tokens(text_col), lambda w: F.xxhash64(w)).alias("_th"),
        )
        grams = toks.select(
            "id",
            F.posexplode(_hash_ngram_keys(F.col("_th"), min_len)).alias(
                "pos", "_k"
            ),
        )
    else:
        grams = documents.select(
            F.col(id_col).alias("id"),
            F.posexplode(_word_ngrams(tokens(text_col), min_len)).alias(
                "pos", "gram"
            ),
        ).select("id", "pos", F.col("gram").alias("_k"))
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

    w = Window.partitionBy("id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    brk = F.when(gap <= min_len, F.lit(0)).otherwise(F.lit(1))  # NULL -> 1
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dup.select("id", "pos", island.alias("_island"))
        .groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_len)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .drop("_island")
        .withColumnRenamed("id", id_col)
    )


def strip_spans(
    documents: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
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
    a groupBy on id — spans per doc are few), and the word filter is one
    two-arg F.filter whose index lambda probes that array; map-side
    after the single join, no extra shuffle.
    """
    sp = (
        spans.groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("_spans")
        )
    )
    words = tokens(text_col)
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("_spans"), lambda sp_: (i >= sp_["s"]) & (i < sp_["e"])
    )
    kept = F.filter(words, lambda wd, i: ~in_span(i))
    return (
        documents.join(sp, id_col, "left")
        .withColumn(
            "text_stripped",
            F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(" ", kept)
            ),
        )
        .drop("_spans")
    )
