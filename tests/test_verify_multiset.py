"""The JVM multiset count of verify/classify equals the NumPy reference
count (``multiset_intersection_size``, rkmh hash_intersection_size parity)
on seeded sketch pairs covering every shape of repetition."""

import numpy as np
import pytest

from rkmh_spark.config import DedupConfig
from rkmh_spark.functions.shingles import multiset_intersection_size
from rkmh_spark.operators.verify import shared_count, verify_pairs, with_repeats

HIGH = -(2**63)  # high bit set: sorts AFTER small values in u64 order


def _sk(values) -> list[int]:
    """Sorted in u64 order, stored as int64 — the sketch layout."""
    a = np.asarray(values, dtype=np.int64).view(np.uint64)
    return [int(x) for x in np.sort(a).view(np.int64)]


def _cases() -> dict[str, tuple[list[int], list[int]]]:
    rng = np.random.default_rng(8)
    cases = {
        "identical_with_repeats": (_sk([1, 1, 2, 3, 3, 3, 9]),) * 2,
        "disjoint": (_sk([1, 1, 2, 5]), _sk([3, 4, 4, 6])),
        "one_side_no_repeats": (_sk([1, 2, 3, 4, 7]), _sk([1, 1, 2, 2, 2, 7, 7])),
        "both_repeated_counts_differ": (
            _sk([5] * 3 + [8] * 6 + [9] * 4 + [11]),
            _sk([5] * 5 + [8] * 3 + [9] * 4 + [12] * 3),
        ),
        "high_bit": (
            _sk([HIGH, HIGH, HIGH + 7, -1, -1, -1, 4, 4]),
            _sk([HIGH, HIGH + 7, HIGH + 7, -1, -1, 4, 2**62]),
        ),
        "length_one_equal": ([HIGH + 3], [HIGH + 3]),
        "length_one_vs_repeats": ([6], _sk([6, 6, 6])),
        "empty": ([], _sk([1, 1, 2])),
    }
    # seeded random pairs drawn from a small pool of full-range values,
    # so repeats (and repeats on both sides) are common
    for i in range(40):
        pool = rng.integers(-(2**63), 2**63 - 1, size=int(rng.integers(1, 8)),
                            dtype=np.int64)
        n_a, n_b = rng.integers(1, 16, size=2)
        cases[f"random_{i}"] = (_sk(rng.choice(pool, n_a)), _sk(rng.choice(pool, n_b)))
    return cases


CASES = _cases()


def _expected(a, b) -> int:
    return multiset_intersection_size(
        np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
    )


@pytest.fixture(scope="module")
def case_df(spark):
    rows = [(name, a, b) for name, (a, b) in CASES.items()]
    return spark.createDataFrame(rows, "name string, a array<bigint>, b array<bigint>")


def test_shared_count_equals_numpy_reference(case_df):
    df = with_repeats(with_repeats(case_df, "a", "rep_a"), "b", "rep_b")
    got = {
        r["name"]: r["shared"]
        for r in df.select(
            "name", shared_count("a", "rep_a", "b", "rep_b").alias("shared")
        ).collect()
    }
    assert got == {name: _expected(a, b) for name, (a, b) in CASES.items()}
    assert got["identical_with_repeats"] == 7
    assert got["both_repeated_counts_differ"] == 3 + 3 + 4


def test_repeats_struct_lists_repeated_values_with_extra_count(spark):
    df = spark.createDataFrame(
        [(_sk([HIGH, HIGH, 2, 3, 3, 3, 5]),), ([4],), ([],)], "sk array<bigint>"
    )
    reps = [tuple(map(list, r["rep"])) for r in with_repeats(df, "sk", "rep").collect()]
    assert reps == [([3, HIGH], [2, 1]), ([], []), ([], [])]


def test_verify_pairs_shared_matches_reference_and_drops_empty(spark):
    """Every pair with two non-empty sketches is accepted at threshold 0
    and carries the reference count; the empty sketch fails the depth
    filter (rkmh.cpp:888)."""
    sigs, pairs, expected = [], [], {}
    for i, (name, (a, b)) in enumerate(CASES.items()):
        ua, ub = f"u{i:03d}a", f"u{i:03d}b"
        sigs += [(ua, a), (ub, b)]
        pairs.append((ua, ub))
        if a and b:
            expected[(ua, ub)] = _expected(a, b)
    cfg = DedupConfig(sketch_size=64, jaccard_threshold=0.0, min_matches=0)
    got = verify_pairs(
        spark.createDataFrame(pairs, "url_a string, url_b string"),
        spark.createDataFrame(sigs, "url string, sketch array<bigint>"),
        cfg,
    ).collect()
    assert {(r["url_a"], r["url_b"]): r["shared"] for r in got} == expected
    empty = [i for i, (a, b) in enumerate(CASES.values()) if not (a and b)]
    assert empty and all(f"u{i:03d}a" not in {r["url_a"] for r in got} for i in empty)
