"""Exact + n-gram + SimHash deduplication over a documents table.

Training-data-pipeline operators complementing the MinHash/LSH path:
- exact dedup: hash-groupBy on md5(text) — one shuffle, keep min doc_id.
- token n-gram Jaccard: fully relational (explode → equi-join → groupBy),
  the SQL-expressible spelling of the verify stage (J1's relational form,
  SURVEY.md §2.4).
- SimHash: 64-bit sign-aggregated token hashes banded into 4×16-bit keys;
  Hamming-adjacent candidates collide on at least one key (for ≤3-bit
  distance across 4 bands... standard pigeonhole argument at distance ≤3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.functions.text import ngram_keys, tokens
from rkmh_spark.operators.lsh import bucket_pairs


def exact_duplicate_groups(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (text_md5, n_docs, keep_doc_id) for texts appearing more than once."""
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def exact_dedup_keep_first(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Documents with non-minimal doc_id per identical text removed."""
    keep = documents.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return documents.join(keep, "doc_id", "left_semi")


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
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
    th, keys = ngram_keys(documents, n, text_col, "doc_id")
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


def simhash_signatures(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, simhash) — 64-bit SimHash over distinct tokens.

    bit_b(doc) = 1 iff sum over tokens of sign(bit_b(xxhash64(token))) > 0.
    Spelled entirely with JVM expressions: explode distinct tokens,
    per-bit set-bit counts, one shared token count n, reassemble with
    bit_b = (2·s_b > n) — algebraically identical to the r5 ±1 vote
    (v_b = 2·s_b − n > 0).

    The counts are PACKED two per aggregate buffer (r6): buffer b holds
    s_b in its low 32 bits and s_{b+32} in the high 32 —
    Σ ((th>>b)&1) + (((th>>b+32)&1) << 32). Carry-safe by construction:
    a JVM string is < 2^31 chars, so distinct tokens per doc < 2^30 and
    the low-field sum can never reach 2^32; the high-field sum stays
    under 2^62. 33 aggregate buffers instead of 65 → roughly half the
    generated hash-agg code and per-row buffer updates (measured: the
    65-buffer spelling was this query's dominant cold AND warm cost;
    cold 4.9→2.1 s, warm 2.1→1.7 s at sf0.1, results bit-identical).
    """
    tok = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    aggs = []
    for b in range(32):
        lo = F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1))
        hi = F.shiftright(F.col("th"), b + 32).bitwiseAND(F.lit(1))
        aggs.append(F.sum(lo + F.shiftleft(hi, 32)).alias(f"p{b}"))
    votes = tok.groupBy("doc_id").agg(F.count("*").alias("_n"), *aggs)
    sim = F.lit(0).cast("long")
    for b in range(32):
        lo = F.col(f"p{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        hi = F.shiftrightunsigned(F.col(f"p{b}"), 32)
        sim = sim + F.when(
            lo * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sim = sim + F.when(
            hi * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b + 32)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_dup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bucket_cap: int = 200,
    materialize: bool = True,
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
    feeds three branches (banding + both verify joins); with
    ``materialize=True`` (the execution path) it is persisted for the
    duration of the call, the candidates stay lazy, and the result is
    eagerly checkpointed before the caches are released.
    ``materialize=False`` returns the verify join lazy (signatures
    recomputed per branch) over eagerly checkpointed candidates — for
    plan inspection of the verify and tiny inputs; the candidate plan
    is gated on ``bucket_pairs`` directly.
    """
    if max_hamming > 3:
        raise ValueError(
            "4×16-bit banding only guarantees recall for hamming <= 3; "
            f"got max_hamming={max_hamming}"
        )
    sigs = simhash_signatures(documents, text_col)
    cleanup: list | None = None
    if materialize:
        sigs = sigs.persist()
        cleanup = []
    cand = simhash_band_candidates(sigs, bucket_cap=bucket_cap, cleanup=cleanup)
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
    if materialize:
        # materialize before releasing the cached inputs the plan depends
        # on; finally-cleanup so a failed checkpoint (task failure, OOM)
        # can't leak the persisted relations for the session (ADVICE r5)
        try:
            out = out.localCheckpoint(eager=True)
        finally:
            for h in cleanup:
                h.unpersist()
            sigs.unpersist()
    return out


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
