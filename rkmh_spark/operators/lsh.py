"""Stage 2 — LSH banding + candidate pair generation (SURVEY.md §7.2 M2).

The reference compares every read against every reference sketch with a
broadcast nested-loop theta-join (/root/reference/src/rkmh.cpp:867-870).
That is O(n²) and cannot survive web scale, so this is the one place the
Spark design intentionally diverges in MECHANISM (not result, SURVEY.md
§2.4): signatures are banded (b bands × r rows), equal bands collide in a
bucket, and only intra-bucket pairs go to exact verification. At equal
config the verified pairs must reproduce the reference's exhaustive
acceptance with recall ≥ 0.99.

Skew ("salted explode-groupBy", north_rule): Zipfian shingles make hot
buckets whose naive self-join is O(sz²) in ONE task. Defenses, in order:
1. the doc-frequency hot-shingle filter upstream (the reference's own
   answer, ``-I`` /root/reference/src/rkmh.cpp:835-836);
2. a bucket-size census, then ONE sharded self-join for every bucket
   (``bucket_pairs``): each member gets a deterministic salt shard out
   of m = ceil(sz/cap), so a bucket within ``bucket_cap`` is a plain
   self-join (m = 1) and a hot one yields the same pair set spread over
   ~(sz/cap)² tasks;
3. AQE skew-join splitting for residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rkmh_spark.config import DedupConfig

_BUCKET_KEY = ["band_id", "band_hash"]


def bucket_census(members: DataFrame, keys: list[str]) -> DataFrame:
    """members + per-key ``sz`` column, keys with one member dropped —
    the groupBy + join-back spelling, NOT a count window.

    Precondition: no key column is null. groupBy counts null keys as one
    group, but the equi-join back never matches a null, so members with
    a null key silently drop out (every ``bucket_pairs`` caller keys on
    hashes or bit patterns of non-null values).

    ``count(*) over (partition by key)`` ships every row of a hot key to
    ONE WindowExec task and buffers it — a one-reducer spill bomb on a
    content-derived key at web scale (the span_dedup.py argument, r5;
    systemic fix r6 per VERDICT #1). groupBy partial-aggregates map-side
    (the reducer sees one row per map task per key) and the join back
    replicates the single count row per key — the shape AQE's skew-join
    split handles. Cost: one extra exchange of (key, sz) rows; the
    members relation feeds two plan branches, so callers persist it (or
    its source) exactly as they already did for the window spelling.
    """
    counts = (
        members.groupBy(*keys)
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") >= 2)
    )
    return members.join(counts, keys)


def band_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → (url, band_id, band_hash).

    Band i = minhash[i*r : (i+1)*r] over the K independent minhash values;
    64-bit xxhash of the row values (32-bit F.hash would collide
    catastrophically at 10^12 docs × b bands). Documents with no shingles
    have an empty minhash vector and produce no bands — the LSH analog of
    the depth filter F1.
    """
    b, r = cfg.num_bands, cfg.band_rows
    # one parsed expression: b separate F.slice calls cost ~3 py4j round
    # trips each on the driver, for the same CreateArray-of-Slice plan
    bands = F.expr(
        "array("
        + ", ".join(f"slice(minhash, {i * r + 1}, {r})" for i in range(b))
        + ")"
    )
    return (
        signatures.select("url", F.posexplode(bands).alias("band_id", "band"))
        .where(F.size("band") == r)
        .select("url", "band_id", F.xxhash64("band").alias("band_hash"))
    )


def candidate_pairs(
    buckets: DataFrame,
    cfg: DedupConfig,
    materialize: bool = True,
    cleanup: list | None = None,
) -> DataFrame:
    """buckets(url, band_id, band_hash) → distinct (url_a, url_b) with
    url_a < url_b, through ``bucket_pairs`` at ``cfg.bucket_cap``.

    ``cleanup`` is the one switch, as in ``bucket_pairs``: without it the
    pair set is localCheckpointed eagerly (lineage-free, safe to reuse
    across plan branches); with it the pairs come back lazy and the
    census handle goes to the caller's list — single-consumer callers
    skip the eager checkpoint, measured 2× the candidate-stage wall at
    sf0.1. ``materialize`` accepts only ``True``: it is kept because the
    benchmark passes it explicitly.
    """
    if materialize is not True:
        raise ValueError("candidate_pairs: pass cleanup= for lazy pairs")
    return bucket_pairs(buckets, _BUCKET_KEY, cfg.bucket_cap, cleanup=cleanup)


def bucket_pairs(
    members: DataFrame,
    keys: list[str],
    cap: int,
    node: str = "url",
    out: tuple[str, str] = ("url_a", "url_b"),
    cleanup: list | None = None,
) -> DataFrame:
    """members(node, *keys) → distinct (out[0], out[1]) with
    out[0] < out[1]: every pair of nodes sharing a bucket. The one pair
    generator behind the LSH, SimHash, containment-anchor and
    embedding-bucket candidate passes.

    Census first (``bucket_census``): size-1 buckets are pruned before
    any join. Each member then gets m = ceil(sz/cap) and a deterministic
    shard = xxhash64(node) mod m (no window). For every unordered shard
    pair (i ≤ j), members of shard i meet members of shard j: the left
    relation replicates each member to (i=shard, j ∈ [shard, m)), the
    right to (i ∈ [0, shard], j=shard), and ONE equi-join on
    (keys, i, j) emits each member pair exactly once per bucket. A
    bucket of at most ``cap`` members is the m = 1 case — the plain
    self-join; a hot bucket's O(sz²) pairs spread over ~(sz/cap)²/2
    tasks instead of one.

    The census relation feeds both join sides, so it is persisted, and
    it follows the one cache-ownership rule: a function that calls
    ``persist()`` releases it in a ``finally`` before it returns, or
    hands the handle to exactly one owner. With a ``cleanup`` list the
    pairs come back lazy and the census handle is appended to the list;
    the caller owns it and unpersists it after its own action. Without
    one the pairs are localCheckpointed eagerly and the census is
    released before returning.
    """
    sized = bucket_census(members, keys).persist()
    if cleanup is not None:
        cleanup.append(sized)
    m = F.ceil(F.col("sz") / F.lit(cap)).cast("long")
    sharded = sized.select(*keys, node, m.alias("m")).withColumn(
        "shard", F.pmod(F.xxhash64(node), F.col("m"))
    )
    left = sharded.select(
        *keys,
        node,
        F.col("shard").alias("i"),
        F.explode(F.sequence(F.col("shard"), F.col("m") - 1)).alias("j"),
    )
    right = sharded.select(
        *keys,
        node,
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("shard"))).alias("i"),
        F.col("shard").alias("j"),
    )
    a, b = F.col(f"a.{node}"), F.col(f"b.{node}")
    # within one shard (i = j) both orientations join, so keep a < b;
    # across shards (i < j) each pair joins once, in whichever
    # orientation its shards give — normalise with least/greatest
    pairs = (
        left.alias("a")
        .join(right.alias("b"), keys + ["i", "j"])
        .where((F.col("i") < F.col("j")) | (a < b))
        .select(F.least(a, b).alias(out[0]), F.greatest(a, b).alias(out[1]))
        .distinct()
    )
    if cleanup is not None:
        return pairs
    try:
        return pairs.localCheckpoint(eager=True)
    finally:
        sized.unpersist()
