"""Star-contraction CC must agree with union-find and hash-min on random
graphs AND converge fast on the hash-min worst case (a long chain), where
connected_components falls back to it."""

import random

import pytest

from rkmh_spark.operators.components import (
    _driver_union_find,
    connected_components,
    connected_components_star,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "url_a string, url_b string")


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


@pytest.mark.parametrize("seed", [1, 2])
def test_star_matches_union_find_random(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(60)]
    pairs = []
    for _ in range(70):
        a, b = rng.sample(nodes, 2)
        pairs.append((min(a, b), max(a, b)))
    df = _edges_df(spark, pairs)
    star = _labels(connected_components_star(df))
    uf = _labels(_driver_union_find(df, "url_a", "url_b"))
    assert star == uf


def test_star_handles_long_chain_within_log_rounds(spark):
    # a 64-node chain has diameter 63: hash-min with the default 20-round
    # cap cannot converge on it; star contraction needs ~log2(64)
    # alternating rounds
    n = 64
    pairs = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n - 1)]
    df = _edges_df(spark, pairs)
    star = _labels(connected_components_star(df, max_iterations=10))
    assert set(star.values()) == {"c000"}
    assert len(star) == n


def test_hash_min_warns_on_chain_where_star_succeeds(spark):
    # diameter 39 cannot converge in 3 hash-min rounds; that used to warn
    # and split the chain. Now the result must still be the one min-url
    # component (star-contraction fallback)
    n = 40
    pairs = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n - 1)]
    df = _edges_df(spark, pairs)
    labels = _labels(
        connected_components(df, max_iterations=3, driver_threshold=0)
    )
    assert set(labels.values()) == {"c000"}
    assert len(labels) == n


def test_star_raises_when_cap_reached_before_fixed_point(spark):
    # the 64-node chain needs ~log2(64) rounds; at a cap of 2 the labels
    # are still split (60 distinct where the answer is 1), so the call
    # must fail loudly instead of returning them
    n = 64
    pairs = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n - 1)]
    with pytest.raises(RuntimeError, match="max_iterations=2"):
        connected_components_star(_edges_df(spark, pairs), max_iterations=2)
