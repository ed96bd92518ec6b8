"""Connected components: driver union-find and distributed loop agree."""

import pytest

from rkmh_spark.operators.components import connected_components


def _edges(spark):
    rows = [
        ("a", "b"), ("b", "c"),          # chain → label a
        ("x", "y"),                      # pair → label x
        ("m", "n"), ("n", "o"), ("o", "m"),  # cycle → label m
        ("q", "z"), ("z", "a"),          # bridges chain into q..z..a → label a
    ]
    return spark.createDataFrame(rows, ["url_a", "url_b"])


EXPECT = {
    "a": "a", "b": "a", "c": "a", "q": "a", "z": "a",
    "x": "x", "y": "x",
    "m": "m", "n": "m", "o": "m",
}


def test_driver_path(spark):
    got = dict(connected_components(_edges(spark)).collect())
    assert got == EXPECT


def test_distributed_path_matches(spark):
    got = dict(
        connected_components(_edges(spark), driver_threshold=0).collect()
    )
    assert got == EXPECT


def test_distributed_converges_on_long_chain(spark):
    # worst case for min-label propagation: a path graph; label must reach
    # the far end within max_iterations via doubling-free propagation
    n = 17
    rows = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)]
    edges = spark.createDataFrame(rows, ["url_a", "url_b"])
    got = dict(connected_components(edges, max_iterations=20, driver_threshold=0).collect())
    assert set(got.values()) == {"n000"}


def test_distributed_round_that_raises_releases_sym(spark, monkeypatch):
    """The hash-min loop persists its symmetric edge relation; a round
    that raises must not leave it in the session cache."""
    real = type(spark.range(1)).localCheckpoint
    calls = []

    def fail_in_round(self, *a, **k):
        calls.append(1)
        if len(calls) > 1:  # call 1 is round 0 (initialization)
            raise RuntimeError("round failed")
        return real(self, *a, **k)

    spark.catalog.clearCache()
    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", fail_in_round)
    with pytest.raises(RuntimeError, match="round failed"):
        connected_components(_edges(spark), driver_threshold=0)
    monkeypatch.undo()
    assert len(calls) == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
