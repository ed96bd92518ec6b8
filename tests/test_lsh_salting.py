"""Hot-bucket salting must emit exactly the naive pair set, just sharded."""

import pytest
from pyspark.sql import functions as F

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.lsh import candidate_pairs


def _bucket_rows(spark, urls_per_bucket):
    rows = []
    for b, (band_id, band_hash) in enumerate(urls_per_bucket):
        for u in urls_per_bucket[(band_id, band_hash)]:
            rows.append((u, band_id, band_hash))
    return spark.createDataFrame(rows, ["url", "band_id", "band_hash"])


def _expected_pairs(urls_per_bucket):
    out = set()
    for urls in urls_per_bucket.values():
        s = sorted(urls)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                out.add((s[i], s[j]))
    return out


@pytest.mark.parametrize("cap", [2, 3, 200])
def test_salted_pairs_equal_naive(spark, cap):
    buckets = {
        (0, 111): [f"u{i:02d}" for i in range(9)],   # hot at cap=2,3
        (1, 222): ["a", "b", "c"],
        (2, 333): ["x"],                              # singleton → no pairs
        (3, 444): ["p", "q"],
        # same urls colliding in a second bucket → dedup across buckets
        (4, 555): ["a", "b"],
    }
    cfg = DedupConfig(bucket_cap=cap)
    df = _bucket_rows(spark, buckets)
    got = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(df, cfg).collect()
    }
    assert got == _expected_pairs(buckets)


def test_duplicate_membership_single_bucket(spark):
    # a url can appear once per (band, bucket); pairs are still unique
    buckets = {(0, 1): ["m", "n", "o", "m2", "n2", "o2"]}
    cfg = DedupConfig(bucket_cap=2)
    got = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(_bucket_rows(spark, buckets), cfg).collect()
    }
    assert got == _expected_pairs(buckets)
    assert len(got) == 15


# The four call shapes of lsh.bucket_pairs: bucket key columns (with the
# caller's types), node column and type, output columns.
_SHAPES = {
    "lsh": ("band_id int, band_hash long", "url string", ("url_a", "url_b")),
    "containment": ("anchor long", "url string", ("url_a", "url_b")),
    "simhash": ("band int, key long", "doc_id long", ("doc_a", "doc_b")),
    "embedding": ("bucket long", "id long", ("id_a", "id_b")),
}

_CAP = 3
# member node numbers per bucket: a singleton, sz = cap (m = 1),
# sz = cap + 1 (m = 2), sz = 4·cap (m = 4), and node 1 in two buckets
_BUCKETS = [[1], [1, 2, 3], [4, 5, 6, 7], list(range(20, 32))]


@pytest.mark.parametrize("lazy", [False, True], ids=["eager", "cleanup"])
@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_bucket_pairs_equal_brute_force(spark, shape, lazy):
    from rkmh_spark.operators.lsh import bucket_pairs

    key_schema, node_schema, out = _SHAPES[shape]
    keys = [c.split(" ")[0] for c in key_schema.split(", ")]
    node = node_schema.split(" ")[0]
    as_node = (lambda i: f"u{i:02d}") if "string" in node_schema else int
    # bucket b's key: (b % 2, 100 + b) for two key columns, (100 + b,) for one
    rows = [
        (as_node(i), *([b % 2] if len(keys) == 2 else []), 100 + b)
        for b, ms in enumerate(_BUCKETS)
        for i in ms
    ]
    members = spark.createDataFrame(rows, f"{node_schema}, {key_schema}")
    expected = _expected_pairs(
        {b: [as_node(i) for i in ms] for b, ms in enumerate(_BUCKETS)}
    )

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    cleanup = [] if lazy else None
    pairs = bucket_pairs(members, keys, _CAP, node=node, out=out, cleanup=cleanup)
    try:
        got = [tuple(r) for r in pairs.select(*out).collect()]
    finally:
        for h in cleanup or []:
            h.unpersist()
    assert len(got) == len(set(got))  # distinct
    assert set(got) == expected
    assert all(a < b for a, b in got)
    # the census persist is released by bucket_pairs itself (eager) or
    # handed to the caller as the one entry of ``cleanup``
    assert cleanup is None or len(cleanup) == 1
    assert cache.isEmpty()
