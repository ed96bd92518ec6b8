"""C4-style page cleaning (Raffel et al. 2020, §2.2 — public) as one
zero-shuffle projection: the line-level retention rules plus the
page-level drop rules, with the kept text re-emitted.

Complements the Gopher filter (``text.gopher_quality_filter``): Gopher
scores token statistics of the whole document; C4 edits the document
line by line and then judges the edited result. Reference analog: the
same filter→re-emit shape as rkmh's ``filter`` command (F1-F3 +
passing-reads sink, /root/reference/src/rkmh.cpp:1298-1310) — predicates
decide, survivors are re-emitted as data, failures carry typed flags.

All rules are line-local or page-local string predicates — a single
codegen projection, no shuffle, no Python. At 10^12 pages this is
map-only and column-pruned to (id, text).

Rules (each spelled so a DuckDB oracle can mirror it exactly):
- line retained ⇔ trimmed line ends in terminal punctuation
  (``. ! ? "``), has ≥ 3 whitespace tokens, and does
  not contain "javascript" (case-insensitive);
- page dropped ⇔ fewer than ``min_sentences`` sentence terminators
  (``. ! ?``) in the RETAINED text, or the RAW page contains
  "lorem ipsum" (case-insensitive), a curly brace ``{``, or any token
  from ``bad_words`` (case-insensitive exact-token match).

The published pipeline also deduplicates three-sentence spans across
pages — that is this repo's ``operators.span_dedup`` / ``line_dedup``;
C4's bad-word list is the public "LDNOOBW" list (hundreds of entries);
``bad_words`` is a parameter so deployments supply their own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_TERMINAL_RE = r'[.!?"]$'


def c4_retained_lines(text: Column | str) -> Column:
    """Array of trimmed lines retained by the C4 line rules."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.transform(F.split(c, "\n"), F.trim)
    return F.filter(
        lines,
        lambda l: l.rlike(_TERMINAL_RE)
        & (F.size(F.array_remove(F.split(l, r"\s+"), "")) >= 3)
        & ~F.lower(l).contains("javascript"),
    )


def c4_filter(
    df: DataFrame,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] = (),
) -> DataFrame:
    """-> (doc_id, kept_text, n_lines, n_lines_kept, n_sentences,
    fail_sentences, fail_lorem, fail_brace, fail_badwords, keep).

    Every input row is reported; ``kept_text`` is the newline-rejoin of
    the retained lines (empty string when nothing survives — NOT null,
    so sinks can write it without null-handling).
    """
    c = F.col("text")
    kept = c4_retained_lines(c)
    kept_text = F.array_join(kept, "\n")
    n_sent = F.length(kept_text) - F.length(
        F.regexp_replace(kept_text, r"[.!?]", "")
    )
    low = F.lower(c)
    toks_low = F.array_remove(F.split(low, r"\s+"), "")
    bw = F.array(*[F.lit(w.lower()) for w in bad_words])
    fail_bad = (
        F.size(F.filter(toks_low, lambda t: F.array_contains(bw, t))) > 0
        if bad_words
        else F.lit(False)
    )
    out = df.select(
        "doc_id",
        kept_text.alias("kept_text"),
        F.size(F.split(c, "\n")).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        (n_sent < min_sentences).alias("fail_sentences"),
        low.contains("lorem ipsum").alias("fail_lorem"),
        c.contains("{").alias("fail_brace"),
        fail_bad.alias("fail_badwords"),
    )
    return out.withColumn(
        "keep",
        ~(
            F.col("fail_sentences")
            | F.col("fail_lorem")
            | F.col("fail_brace")
            | F.col("fail_badwords")
        ),
    )
