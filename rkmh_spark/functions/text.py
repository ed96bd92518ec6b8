"""Text-analysis functions for the training-data pipeline, Spark-native.

Everything here is built from pyspark.sql.functions (JVM-side, whole-stage
codegen), except the per-document word and bigram multiset counts of
``gram_stats``: one ``mapInArrow`` NumPy kernel per Arrow batch, with no
per-row Python. Each has an exact ANSI-SQL spelling used by the DuckDB
oracle in __spark_entry__.py, so semantics are pinned cross-engine:
token = non-empty run split on single spaces; stopword sets are explicit
literals.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# tiny deterministic stopword panels per language (oracle-mirrored literals)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "it": ("il", "la", "che", "di", "non"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty strings removed (split-on-space semantics).

    Spelled with array_remove, NOT F.filter(..., lambda): identical
    semantics (removes every '' element), but array_remove is a regular
    codegen'd collection expression while lambda higher-order functions
    run interpreted — measured ~2× on explode-heavy consumers
    (gopher_quality_filter's token stats, r4)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(c, " "), "")


def ngram_keys(
    df: DataFrame, n: int, text_col: str, *cols: Column | str
) -> tuple[DataFrame, Column]:
    """→ (frame, keys): ``frame`` is ``df`` projected to (*cols, _th) and
    ``keys`` is the array column, over that frame, of each row's word
    n-grams as 8-byte keys in token order — the one gram identity of
    span_dedup, ngram_jaccard_pairs and flag_contaminated. key[i] =
    fold(th[i], ..., th[i+n-1]) over the per-token xxhash64 values
    ``_th`` of ``tokens(text)``, with xxhash64(a, b) as the
    order-sensitive combiner. Empty when the text has fewer than n
    tokens (or is NULL).

    ``_th`` is projected as its own column first, so the n slice
    references share ONE tokenize+hash pass instead of n re-evaluations
    of the tokens() subtree. The chained zip_with over shifted slices
    keeps every slice an evaluated-once ARGUMENT of the higher-order
    function (never an element_at inside the lambda, which re-evaluates
    the array expression per element: quadratic per row), and each fold
    step is O(1) per element, vs the O(gram-chars) copy of a concat_ws
    string build (measured ~4× on the benched 20-gram dup_spans build).

    ``keys`` is returned as an expression for the caller's explode, not
    as a projected column: a generator over a bare column makes the
    optimizer infer a ``size(keys) > 0`` filter and push it below the
    ``_th`` projection, which re-evaluates the tokenize+hash once per
    slice (dup_spans at sf0.1 went from ~3 s to ~11 s that way).

    Collision bound: n distinct grams hashed to 64 bits give about
    n²/2⁶⁵ colliding pairs (birthday bound) — about 0.03 at 10⁹ distinct
    grams and about 2.7·10⁴ at 10¹². Equal grams always get equal keys,
    so a collision can only make two different grams look equal: it adds
    a false shared gram and never loses a true one. In ``span_dedup`` it
    can mark a unique position as duplicated, in ``line_dedup`` (xxhash64
    line keys, same bound) it can drop a unique line as a repeat, in
    ``ngram_jaccard_pairs`` it can raise a pair's shared count by one,
    and in ``flag_contaminated`` it can add a false benchmark hit. Inside
    one document it can also fold two of its grams into one key, which
    lowers that document's distinct-gram count by one."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    th = df.select(
        *cols, F.transform(tokens(text_col), lambda w: F.xxhash64(w)).alias("_th")
    )
    m = F.size("_th") - F.lit(n - 1)  # gram count (may be <= 0)
    safe_m = F.greatest(m, F.lit(0))
    acc = F.slice("_th", 1, safe_m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice("_th", j + 1, safe_m), lambda a, b: F.xxhash64(a, b)
        )
    return th, F.when(m >= 1, acc).otherwise(F.array().cast("array<bigint>"))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / token / mean-token-length quality features (F6 analog —
    the reference tosses reads by length at
    /root/reference/scripts/score_real_classification.py:25-52)."""
    c = F.col("text")
    toks = tokens(c)
    n_tok = F.size(toks)
    return df.withColumns(
        {
            "n_chars_m": F.length(c),
            "n_tokens": n_tok,
            "mean_token_len": F.round(
                (F.length(c) - (n_tok - F.lit(1)))
                / F.greatest(n_tok, F.lit(1)).cast("double"),
                4,
            ),
        }
    )


GRAM_STATS = (
    "n_words", "n_distinct_words", "top_words_count",
    "n_bigrams", "n_distinct_bigrams", "top_bigrams_count",
)


def _multiset_stats(codes: np.ndarray, lengths: np.ndarray) -> list[np.ndarray]:
    """[count, distinct, top count] per row of the multisets of ``codes``
    (integers in [0, 2^31)), laid out row after row with ``lengths[i]``
    codes for row i. Equal (row, code) keys are counted on one sort."""
    rows = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    keys, counts = np.unique((rows << 32) | codes, return_counts=True)
    key_rows = keys >> 32
    distinct = np.bincount(key_rows, minlength=len(lengths))
    top = np.zeros(len(lengths), dtype=np.int64)
    firsts = np.flatnonzero(np.diff(key_rows, prepend=-1))
    top[key_rows[firsts]] = np.maximum.reduceat(counts, firsts)
    return [lengths.astype(np.int64), distinct, top]


def _gram_stats_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Arrow kernel of ``gram_stats``: the last column is the string list;
    it is replaced by the six word and bigram counts."""
    for batch in batches:
        words = batch.column(batch.num_columns - 1)
        lengths = pc.list_value_length(words).fill_null(0).to_numpy()
        codes = pc.dictionary_encode(words.flatten()).indices.to_numpy()
        # a bigram is the pair of adjacent codes inside one row: position
        # i starts one unless it is the last element of its row
        starts = np.ones(len(codes), dtype=bool)
        starts[np.cumsum(lengths[lengths > 0]) - 1] = False
        pairs = (codes[:-1].astype(np.int64) << 32) | codes[1:]
        pair_codes = np.unique(pairs[starts[:-1]], return_inverse=True)[1]
        stats = _multiset_stats(codes, lengths) + _multiset_stats(
            pair_codes, np.maximum(lengths - 1, 0)
        )
        yield pa.RecordBatch.from_arrays(
            batch.columns[:-1] + [pa.array(v) for v in stats],
            names=batch.schema.names[:-1] + list(GRAM_STATS),
        )


def gram_stats(df: DataFrame, words: Column, *cols: Column | str) -> DataFrame:
    """→ (*cols, n_words, n_distinct_words, top_words_count, n_bigrams,
    n_distinct_bigrams, top_bigrams_count), one row per input row: the
    size, distinct count and top count of the multiset of elements of the
    string array ``words``, and of the multiset of its adjacent element
    pairs (bigrams). A NULL or empty array gives zeros.

    One JVM projection, then one ``mapInArrow`` pass over each Arrow
    batch: no explode, no shuffle, no join back. Elements are compared
    exactly, through Arrow dictionary codes, never through a hash; a
    bigram is the ordered pair of its two codes, which is the same
    identity as the string ``"a b"`` when no element holds a space (true
    of every split-on-space list here)."""
    proj = df.select(*cols, words.alias("_words"))
    schema = T.StructType(
        proj.schema.fields[:-1]
        + [T.StructField(name, T.LongType()) for name in GRAM_STATS]
    )
    return proj.mapInArrow(_gram_stats_batches, schema)


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 — public:
    documents dominated by one repeated n-gram are low-quality) as
    ALL-INTEGER per-doc signals, ratio-free so the oracle compare never
    touches cross-engine float formatting:

    n_words / n_distinct_words / top_words_count,
    n_bigrams / n_distinct_bigrams / top_bigrams_count.

    Words are the raw single-space split, empty strings included (so
    ``"m  m"`` has three words); NULL text gives zeros. One row per input
    row, from ``gram_stats``: ``doc_id`` must be a key of ``df``.
    """
    return gram_stats(df, F.split(F.col("text"), " "), "doc_id")


# Gopher's English stopword panel for the "must contain ≥2 of these"
# rule (Rae et al. 2021 §A1.1, public)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_filter(df: DataFrame, min_words: int = 50) -> DataFrame:
    """The Gopher keep/drop decision (Rae et al. 2021 §A1.1, public) as
    one map-only pass: a JVM projection of the per-document signals, the
    word and bigram top counts from ``gram_stats``, and a JVM projection
    of the flags. No shuffle and no join; one row per input row, so
    ``doc_id`` must be a key of ``df``.

    Every signal here — including the repetition fractions — is computed
    over the SAME empty-filtered token stream (``tokens()``), so runs of
    whitespace can never register as a dominant repeated "word". The top
    counts are exact: tokens are compared as strings, not as hashes.

    Per-document fail flags, every threshold spelled as an INTEGER
    cross-multiplication (no ratios cross the oracle gate):
    - fail_word_count:    n_words outside [min_words, 100000]
    - fail_mean_word_len: mean token length outside [3, 10]
                          (sum_word_chars vs bounds × n_words)
    - fail_symbol_ratio:  '#' occurrences > 0.1·n_words OR '...'
                          occurrences > 0.1·n_words (per-symbol, the
                          paper's "either" rule — not a combined sum)
    - fail_alpha_ratio:   words containing an alphabetic char < 0.8·n_words
    - fail_stopwords:     < 2 tokens from the Gopher stopword panel
    - fail_top_word:      top token count > 0.2·n_words   (repetition)
    - fail_top_bigram:    top token-bigram count > 0.18·n_bigrams
    keep = no flag set. The word floor is a parameter because the
    published 50-word floor is corpus-calibrated (the sf fixtures are
    ~20-word snippets).
    """
    c = F.col("text")
    toks = tokens(c)
    nw = F.size(toks)
    sum_word_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, v: acc + v
    )
    n_hash_marks = F.length(c) - F.length(F.regexp_replace(c, "#", ""))
    n_ellipsis = F.size(F.split(c, r"\.\.\.")) - 1
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    q = gram_stats(
        df,
        toks,
        "doc_id",
        nw.alias("nw"),
        sum_word_chars.alias("swc"),
        n_hash_marks.alias("n_hash"),
        n_ellipsis.alias("n_ell"),
        n_alpha_words.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    nw = F.col("nw")
    out = q.select(
        "doc_id",
        nw.alias("n_words"),
        ((nw < min_words) | (nw > 100_000)).alias("fail_word_count"),
        ((F.col("swc") < 3 * nw) | (F.col("swc") > 10 * nw)).alias(
            "fail_mean_word_len"
        ),
        ((F.col("n_hash") * 10 > nw) | (F.col("n_ell") * 10 > nw)).alias(
            "fail_symbol_ratio"
        ),
        (F.col("n_alpha") * 5 < nw * 4).alias("fail_alpha_ratio"),
        (F.col("n_stop") < 2).alias("fail_stopwords"),
        (F.col("top_words_count") * 5 > nw).alias("fail_top_word"),
        (F.col("top_bigrams_count") * 50 > F.col("n_bigrams") * 9).alias(
            "fail_top_bigram"
        ),
    )
    return out.withColumn(
        "keep",
        ~(
            F.col("fail_word_count")
            | F.col("fail_mean_word_len")
            | F.col("fail_symbol_ratio")
            | F.col("fail_alpha_ratio")
            | F.col("fail_stopwords")
            | F.col("fail_top_word")
            | F.col("fail_top_bigram")
        ),
    )

