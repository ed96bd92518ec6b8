"""Unigram-LM cross-entropy scoring — the CCNet-family quality signal:
score every document by how surprising its tokens are under a language
model trained on a reference corpus, then filter/bucket on
bits-per-token (low = boilerplate-ish/common, high = noise/OOV-heavy).
CCNet uses a KenLM 5-gram; the unigram spelling keeps the estimator
fully relational — same decision surface, no native LM library.

Model: add-one smoothed unigram over reference token counts,
    p(tok) = (c(tok) + 1) / (T + V + 1),
    p(OOV)  =           1  / (T + V + 1),
cross-entropy H(doc) = -(1/n) * sum log2 p(tok_i)  [bits/token].

Scale shape (the interesting part): the per-token probability join is
the classic Zipf-skew trap — partitioning doc-tokens by token sends
every occurrence of "the" to one reducer. Spelled here as the two-path
hot/tail join the corpus operators standardized (docfreq A2 / census+
cap): tokens with reference count >= hot_df join against a BROADCAST
table (few thousand rows cover most of the mass, so most doc-token rows
never shuffle), and only the rare-token tail shuffle-joins — rare by
definition, so no hot key exists on that path. The doc-side aggregate
keys on doc_id, the corpus's natural uniform key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def lm_score(
    docs: DataFrame,
    ref: DataFrame | None = None,
    hot_df: int = 2,
) -> DataFrame:
    """Per-document (n_tokens, bits_per_token, rounded to 4 digits) under
    an add-one unigram LM trained on ``ref`` (default: ``docs`` itself —
    self-scoring, the corpus-outlier spelling). Zero-token docs report
    (0, NULL). ``hot_df`` is the broadcast cutoff: reference tokens with
    count >= hot_df ride the broadcast path (set it so the hot table
    stays a few MB — at web scale a few thousand head tokens cover
    ~90% of occurrences).

    The doc side first compresses to (doc, token, tf) — one shuffle on
    the uniform composite key — so log2 evaluates once per DISTINCT
    token per doc, and the hot-joined table is eagerly checkpointed
    before it branches into the resolved/unresolved paths (review r5:
    without it the scan+explode+groupBy lineage evaluates once per
    branch — the _sharded_probe_join recompute class)."""
    from rkmh_spark.functions.text import tokens

    if ref is None:
        ref = docs

    ref_toks = ref.select(F.explode(tokens("text")).alias("tok"))
    vocab = ref_toks.groupBy("tok").agg(F.count("*").alias("c"))
    # vocab feeds THREE consumers (totals row, hot broadcast, tail join) —
    # without materialization the reference tokenize+count lineage
    # evaluates once per consumer (r6; measured 3 corpus passes in one
    # query). O(vocab) compact rows.
    vocab = vocab.localCheckpoint(eager=True)
    # T (total tokens) and V (vocab size) are one tiny aggregate row,
    # cross-joined as a broadcast literal into the scorer
    totals = F.broadcast(
        vocab.agg(
            F.sum("c").cast("double").alias("T"),
            F.count("*").cast("double").alias("V"),
        )
    )

    doc_tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    hot = F.broadcast(
        vocab.where(F.col("c") >= hot_df).withColumnRenamed("c", "c_hot")
    )
    tail = vocab.where(F.col("c") < hot_df).withColumnRenamed("c", "c_tail")

    with_hot = doc_tf.join(hot, on="tok", how="left").localCheckpoint(
        eager=True
    )
    resolved = with_hot.where(F.col("c_hot").isNotNull()).select(
        "doc_id", "tf", F.col("c_hot").alias("c")
    )
    # tail path: only rows the hot table missed — rare tokens, no skew
    unresolved = (
        with_hot.where(F.col("c_hot").isNull())
        .drop("c_hot")
        .join(tail, on="tok", how="left")
        .select("doc_id", "tf", F.coalesce("c_tail", F.lit(0)).alias("c"))
    )
    scored = (
        resolved.unionByName(unresolved)
        .crossJoin(totals)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                -F.sum(
                    F.col("tf")
                    * F.log2(
                        (F.col("c") + F.lit(1.0))
                        / (F.col("T") + (F.col("V") + 1))
                    )
                )
                / F.sum("tf")
            ).alias("_bpt"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round("_bpt", 4).alias("bits_per_token"),
        )
    )
