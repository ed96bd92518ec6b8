"""Recall gates for the hyperplane-LSH embedding paths vs the exact
O(n²) baselines (VERDICT r1: the LSH paths had no correctness evidence;
r1 also passed dim=32 hyperplanes over dim=64 vectors, nulling every
bucket — these tests pin dim handling too)."""

import pytest
from pyspark.sql import functions as F

from rkmh_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    hyperplane_buckets,
    lsh_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    near = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
    )
    return emb.unionByName(near).persist()


def test_lsh_near_dup_recall(spark, planted):
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(planted, threshold=0.95).collect()
    }
    assert len(exact) >= 10  # the planted pairs are really there
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            planted, threshold=0.95, dim=64, n_planes=8, n_tables=4
        ).collect()
    }
    # precision is exact by construction (every candidate re-checked);
    # recall gate per the capture math: cos≈0.988 → p_bit≈0.95 →
    # (p^8 per table, 4 tables) ≈ 0.987 per pair
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, (recall, exact - approx)


def test_lsh_topk_finds_planted_top1(spark, planted):
    queries = planted.where(F.col("vec_id") >= 100000)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(
            planted, k=1, dim=64, n_planes=8, n_tables=4, queries=queries
        ).collect()
    }
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(planted, queries, k=1).collect()
    }
    hits = sum(1 for q, n in exact.items() if got.get(q) == n)
    assert hits / len(exact) >= 0.9, (hits, len(exact))
    # and each planted query's true top-1 is its source vector
    assert all(n == q - 100000 for q, n in exact.items())


def test_wrong_dim_hyperplanes_would_collapse_buckets(spark, planted):
    """Regression guard for the r1 bug class: mis-declared plane width.

    r6's unrolled literal-coefficient dot changed the failure shape,
    both directions strictly safer than the r1-r5 silent null-driven
    collapse: dim SMALLER than the vectors yields a valid (coarser)
    bucketing over the leading components; dim LARGER raises a loud
    INVALID_ARRAY_INDEX under ANSI mode instead of silently bucketing
    everything together."""
    coarse = hyperplane_buckets(planted, dim=32, n_planes=8, seed=42)
    assert coarse.select("bucket").distinct().count() > 1  # no collapse
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        hyperplane_buckets(planted, dim=128, n_planes=8, seed=42).select(
            "bucket"
        ).distinct().count()
    good = hyperplane_buckets(planted, dim=64, n_planes=8, seed=42)
    assert good.select("bucket").distinct().count() > 1


@pytest.mark.parametrize("path", ["brute_force_topk", "near_dup_pairs_lsh"])
def test_under_declared_dim_fails_on_scored_cosine(spark, planted, path):
    """dim=32 over 64-wide vectors: the unrolled cosine reads only the
    leading 32 components, so without a width check it scores a silently
    truncated cosine. The scored column must fail loudly instead."""
    if path == "brute_force_topk":
        queries = planted.where(F.col("vec_id") >= 100000)
        scored = brute_force_topk(planted, queries, k=2, dim=32)
    else:
        scored = embedding_near_dup_pairs_lsh(
            planted, threshold=0.95, dim=32, n_planes=8, n_tables=2
        )
    with pytest.raises(Exception, match="dim=32"):
        scored.collect()


def test_lsh_topk_hot_bucket_sharded_complete(spark):
    """VERDICT r2 #5: the bipartite skew guard's shard cap is a real
    parameter. All vectors share one sign-pattern bucket (tiny noise
    around one direction), so a small ``bucket_cap`` forces multi-shard
    replication — the (query, neighbor) pair set must stay COMPLETE:
    results identical to an uncapped run and to the exact brute force."""
    import random

    rng = random.Random(123)
    dim, n = 8, 20
    base = [1.0, -1.0, 0.5, -0.5, 0.25, -0.25, 2.0, -2.0]
    rows = [
        (
            i,
            [v + rng.uniform(-0.01, 0.01) for v in base],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = lsh_topk(
        emb, k=5, dim=dim, n_planes=4, n_tables=1, bucket_cap=4
    )
    uncapped = lsh_topk(
        emb, k=5, dim=dim, n_planes=4, n_tables=1, bucket_cap=10**9
    )
    exact = brute_force_topk(emb, emb.select("vec_id", "embedding"), k=5)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    c = sorted(map(tuple, exact.collect()))
    assert len(a) == n * 5
    assert a == b  # sharding changed the plan, not the result
    assert a == c  # one bucket holds everything → candidates are complete


def test_ivf_topk_recall_and_determinism(spark, planted):
    """IVF coarse-quantizer ANN (the brief's named scale-path variant):
    planted near-dup pairs (cos ≈ 0.988) must surface as rank-1 for ≥90%
    of planted queries with n_probe=4 of 8 lists, and the seeded
    quantizer must make the whole result deterministic."""
    from rkmh_spark.operators.similarity import ivf_topk

    out1 = ivf_topk(planted, k=3, n_centroids=8, n_probe=4, seed=5)
    rows = out1.collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    # planted queries are ids >= 100000, each a near-copy of id-100000
    planted_q = [q for q in top1 if q >= 100000]
    assert len(planted_q) >= 10
    hits = sum(1 for q in planted_q if top1[q] == q - 100000)
    assert hits / len(planted_q) >= 0.9, (hits, len(planted_q))

    out2 = ivf_topk(planted, k=3, n_centroids=8, n_probe=4, seed=5)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, out2.collect()))


def test_ivf_topk_hot_centroid_sharded_complete(spark):
    """VERDICT r3 #1b: the centroid_id probe join runs through the same
    bipartite shard guard as lsh_topk. All vectors pile into one KMeans
    cluster (tiny noise around one direction), so a small ``bucket_cap``
    forces multi-shard replication — with n_probe == n_centroids the
    candidate set covers everything, so results must equal an uncapped
    run AND the exact brute force."""
    import random

    from rkmh_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = random.Random(7)
    dim, n = 8, 20
    base = [1.0, -1.0, 0.5, -0.5, 0.25, -0.25, 2.0, -2.0]
    rows = [
        (i, [v + rng.uniform(-0.01, 0.01) for v in base]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = ivf_topk(emb, k=5, n_centroids=2, n_probe=2, seed=9, bucket_cap=4)
    uncapped = ivf_topk(
        emb, k=5, n_centroids=2, n_probe=2, seed=9, bucket_cap=10**9
    )
    exact = brute_force_topk(emb, emb.select("vec_id", "embedding"), k=5)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    c = sorted(map(tuple, exact.collect()))
    assert len(a) == n * 5
    assert a == b  # sharding changed the plan, not the result
    assert a == c  # full probe coverage → candidates are complete


def test_ivf_topk_sampled_training(spark, planted):
    """VERDICT r3 #1c: the quantizer trains on a bounded hash-sample, not
    the full corpus. Forcing max_train far below |corpus| must stay
    deterministic (layout-independent hash sample + id-sorted training
    rows) and keep planted-pair rank-1 recall — quantizer quality affects
    which lists exist, not whether near-identical vectors co-locate."""
    from rkmh_spark.operators.similarity import ivf_topk

    out1 = ivf_topk(
        planted, k=1, n_centroids=4, n_probe=4, seed=5, max_train=50
    )
    rows = sorted(map(tuple, out1.collect()))
    top1 = {r[0]: r[1] for r in rows if r[3] == 1}
    planted_q = [q for q in top1 if q >= 100000]
    assert len(planted_q) >= 10
    hits = sum(1 for q in planted_q if top1[q] == q - 100000)
    assert hits / len(planted_q) >= 0.9, (hits, len(planted_q))
    out2 = ivf_topk(
        planted, k=1, n_centroids=4, n_probe=4, seed=5, max_train=50
    )
    assert rows == sorted(map(tuple, out2.collect()))


def test_ivf_topk_empty_input_schema_matches_id_type(spark):
    """ADVICE r4: the empty-input early return must carry the caller's id
    type, not a hard-coded long — schema parity with the non-empty path."""
    from rkmh_spark.operators.similarity import ivf_topk

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = ivf_topk(empty)
    assert out.count() == 0
    assert dict(out.dtypes) == {
        "query_id": "string",
        "neighbor_id": "string",
        "cosine": "double",
        "rank": "int",
    }


def test_sharded_probe_join_census_computed_once(spark):
    """VERDICT r4 #4: the shard census (nsz) feeds two plan branches; it
    must be materialized once (eager localCheckpoint), not recomputed per
    branch. The returned plan therefore reads the checkpointed RDD and
    contains NO Window node; pair output is unchanged."""
    from rkmh_spark.operators.similarity import _sharded_probe_join

    qb = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "query_id long, bucket long"
    )
    nb = spark.createDataFrame(
        [(100 + i, i % 3) for i in range(30)], "neighbor_id long, bucket long"
    )
    out = _sharded_probe_join(qb, nb, "bucket", cap=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "ExistingRDD" in plan  # both branches read the checkpoint
    expected = {
        (q, n)
        for q in range(10)
        for n in range(100, 130)
        if q % 3 == (n - 100) % 3
    }
    got = set(
        map(tuple, out.select("query_id", "neighbor_id").collect())
    )
    assert got == expected
