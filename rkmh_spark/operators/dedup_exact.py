"""Exact + n-gram + SimHash deduplication over a documents table.

Training-data-pipeline operators complementing the MinHash/LSH path:
- exact dedup: hash-groupBy on md5(text) — one shuffle, keep min doc_id.
- token n-gram Jaccard: fully relational (explode → equi-join → groupBy),
  the SQL-expressible spelling of the verify stage (J1's relational form,
  SURVEY.md §2.4).
- SimHash: 64-bit per-bit votes over JVM token hashes (one NumPy pass per
  Arrow batch), banded into 4×16-bit keys; Hamming-adjacent candidates
  collide on at least one key (for ≤3-bit distance across 4 bands...
  standard pigeonhole argument at distance ≤3).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rkmh_spark.functions.text import ngram_keys, tokens
from rkmh_spark.operators.lsh import bucket_pairs


def exact_duplicate_groups(documents: DataFrame) -> DataFrame:
    """→ (text_md5, n_docs, keep_doc_id) for texts appearing more than once."""
    return (
        documents.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def exact_dedup_keep_first(documents: DataFrame) -> DataFrame:
    """Documents with non-minimal doc_id per identical text removed."""
    keep = documents.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return documents.join(keep, "doc_id", "left_semi")


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 1000,
    hash_keys: bool = True,
) -> DataFrame:
    """Doc pairs with distinct-token-n-gram Jaccard >= threshold, computed
    over the gram space EXCLUDING grams present in more than
    ``max_gram_df`` documents.

    explode → [df census, drop hot grams] → self-equi-join on the gram
    key → groupBy pair → |∩| ; |∪| by inclusion-exclusion from per-doc
    counts of the SAME filtered gram space.

    The hot-gram drop is the reference's own ``-I`` frequency defense
    (/root/reference/src/rkmh.cpp:835-836) applied to the relational
    spelling: without it, one boilerplate n-gram present in d documents
    lands d rows on ONE join key and emits O(d²) rows in one task —
    at 10⁶+ docs that single key is the job. A gram in >max_gram_df docs
    is boilerplate, not evidence of duplication; dropping it from both
    the intersection and the union keeps Jaccard well-defined. The census
    is a groupBy + join back (r6; the r5 window count buffered a hot
    gram's whole membership in ONE WindowExec task before max_gram_df
    could drop it — the span_dedup.py spill-bomb argument, VERDICT #1).

    Grams travel as 8-byte keys from ``functions.text.ngram_keys`` (its
    docstring states the collision bound): the census, the drop-join and
    the self-equi-join all shuffle longs, and gram strings are never
    built. ``hash_keys`` accepts only ``True``: it is kept because the
    benchmark passes it explicitly.

    The filtered gram relation feeds three plan branches (sizes + both
    self-join sides); without a persist Spark recomputes the generation
    expression per branch — 4× the stage cost measured at sf0.1. The
    result is eagerly checkpointed and the persist released before
    return, so the call leaves no cached relation behind.
    """
    if hash_keys is not True:
        raise ValueError("ngram_jaccard_pairs keys grams by 8-byte hash only")
    th, keys = ngram_keys(documents, n, "text", "doc_id")
    raw = th.select("doc_id", F.explode(F.array_distinct(keys)).alias("_k"))
    keep = (
        raw.groupBy("_k")
        .agg(F.count("*").alias("gram_df"))
        .where(F.col("gram_df") <= max_gram_df)
        .select("_k")
    )
    # raw is generated twice (census + join side) — map-side-only work;
    # the FILTERED relation keeps the persist because three plan branches
    # (sizes + both self-join sides) read it, as in r5.
    grams = raw.join(keep, "_k").persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(b, "_k")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_grams": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_grams": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )
    # materialize before releasing the cache the plan reads; finally so a
    # failed checkpoint can't leak it (the simhash_dup_pairs pattern)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        grams.unpersist()


def _simhash_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Arrow kernel of ``simhash_signatures``: (doc_id, th) → (doc_id,
    simhash), rows with no token hash dropped."""
    for batch in batches:
        th = batch.column(1)
        lengths = pc.list_value_length(th).fill_null(0).to_numpy()
        keep = lengths > 0
        starts, n = (np.cumsum(lengths) - lengths)[keep], lengths[keep]
        h = th.flatten().to_numpy()
        votes = np.empty((len(n), 64), dtype=bool)
        for b in range(64):
            votes[:, b] = 2 * np.add.reduceat((h >> b) & 1, starts) > n
        sim = np.packbits(votes, axis=1, bitorder="little").view("<i8")
        yield pa.RecordBatch.from_arrays(
            [batch.column(0).filter(pa.array(keep)), pa.array(sim.ravel())],
            names=["doc_id", "simhash"],
        )


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """→ (doc_id, simhash) — 64-bit SimHash over distinct tokens.

    bit_b(doc) = 1 iff 2·s_b > n, where n is the number of distinct
    tokens and s_b the number of them whose xxhash64 has bit b set (the
    ±1 vote 2·s_b − n > 0). The per-token hash is the JVM xxhash64 of
    ``ngram_keys``; the vote is one NumPy pass per Arrow batch
    (``mapInArrow``), with no explode and no shuffle. A document with no
    token gets no row, and each input row gives its own row, so
    ``doc_id`` must be a key of ``documents``.
    """
    th = documents.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens(F.col("text"))), lambda w: F.xxhash64(w)
        ).alias("th"),
    )
    schema = T.StructType(
        [th.schema["doc_id"], T.StructField("simhash", T.LongType())]
    )
    return th.mapInArrow(_simhash_batches, schema)


def simhash_dup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """→ (doc_a, doc_b, hamming) — verified SimHash near-duplicate pairs
    with Hamming distance ≤ ``max_hamming`` (exact, not approximate).

    Completes the SimHash path (signatures → band candidates → VERIFY),
    the same block-then-verify shape as the MinHash flagship (LSH bands →
    sketch-Jaccard verify, SURVEY §2.4). Recall is 1.0 by pigeonhole: the
    4 disjoint 16-bit bands guarantee every pair within Hamming distance
    3 collides on at least one band, so the verify filter sees every true
    pair (``max_hamming`` > 3 would break the guarantee — rejected).

    The verify itself is pure codegen: join the candidate ids back to the
    signature table twice and compute ``bit_count(xor)`` — no Python, no
    extra shuffle beyond the two id-key joins. The signature relation
    feeds three branches (banding + both verify joins), so it is
    persisted for the duration of the call, the candidates stay lazy,
    and the result is eagerly checkpointed before the caches are
    released.
    """
    if max_hamming > 3:
        raise ValueError(
            "4×16-bit banding only guarantees recall for hamming <= 3; "
            f"got max_hamming={max_hamming}"
        )
    sigs = simhash_signatures(documents).persist()
    cleanup: list = []
    cand = simhash_band_candidates(sigs, cleanup=cleanup)
    sa = sigs.withColumnsRenamed({"doc_id": "doc_a", "simhash": "sim_a"})
    sb = sigs.withColumnsRenamed({"doc_id": "doc_b", "simhash": "sim_b"})
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    # materialize before releasing the cached inputs the plan depends on;
    # finally-cleanup so a failed checkpoint (task failure, OOM) can't
    # leak the persisted relations for the session
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for h in cleanup:
            h.unpersist()
        sigs.unpersist()


def simhash_band_candidates(
    signatures: DataFrame,
    bucket_cap: int = 200,
    cleanup: list | None = None,
) -> DataFrame:
    """Pairs colliding on any 16-bit quarter of the SimHash (≤3-bit
    Hamming neighbors always share a quarter, by pigeonhole).

    Skew guard: 16-bit band keys mean an expected bucket size of
    n/65536 per band — at 10⁹ docs that is ~15k docs per bucket and a
    naive self-join puts ~10⁸ pair rows on ONE key. Same defense as the
    MinHash-LSH path: the (band, key) buckets go through
    ``lsh.bucket_pairs`` (groupBy census, size-1 buckets pruned, every
    bucket sharded into ceil(sz/cap) salt shards — every pair still
    produced, a hot bucket's spread over ~(sz/cap)² tasks).

    ``cleanup``: as in ``bucket_pairs`` — with a list the pairs stay lazy
    and the census handle is appended for the caller to unpersist;
    without one they are eagerly checkpointed and the census released.
    """
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    return bucket_pairs(
        banded,
        ["band", "key"],
        bucket_cap,
        node="doc_id",
        out=("doc_a", "doc_b"),
        cleanup=cleanup,
    )
