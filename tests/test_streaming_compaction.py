"""Streaming compaction (VERDICT r3 #3) and the streaming plan gate
(VERDICT r3 #8): retroactive cluster merges + bucket-pruned band probes.
"""

import dataclasses
import datetime
import random

from pyspark.sql import functions as F

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.sources.pages import pages_schema
from rkmh_spark.streaming.stream_classify import (
    _probe_pairs,
    _read_all,
    compact_assignments,
    process_incremental_batch,
)

TS = datetime.datetime(2026, 1, 1)
# bridge pages share only ~1/3 of their shingles with each side, so the
# verify threshold must sit below 1/3 for the bridge to be a real edge,
# and banding must capture j≈0.33 pairs: r=2/b=64 → 1-(1-0.33²)^64 ≈ 0.999
# (TEST_CONFIG's r=4/b=72 captures j=0.33 at only ~0.57)
CFG = dataclasses.replace(
    TEST_CONFIG, jaccard_threshold=0.25, band_rows=2, num_bands=64
)


def scan_has_partition_pruning(df) -> bool:
    """True iff the executed plan pushes a non-empty partition filter
    into a file scan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            inner = line.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
            if inner.strip():
                return True
    return False


def _assigned(spark, asg_d) -> dict:
    """url → cluster_id, read the way the engine reads assignments."""
    return {
        r["url"]: r["cluster_id"]
        for r in _read_all(spark, asg_d, latest_per="url").collect()
    }


def _mk(spark, rows):
    return spark.createDataFrame(
        [(u, TS, b"", t, "en") for u, t in rows], schema=pages_schema()
    )


def _texts():
    rng = random.Random(77)

    def words(prefix, n):
        return " ".join(f"{prefix}{rng.randrange(10**5):05d}" for _ in range(n))

    t1 = words("a", 40)
    t2 = words("b", 40)
    half = lambda t: " ".join(t.split()[:20])  # noqa: E731
    bridge = half(t1) + " " + half(t2)
    return t1, t2, bridge


def test_compaction_merges_clusters_bridged_across_batches(spark, tmp_path):
    """Batch 0 forms cluster {A, A2}; batch 1 forms {B, B2}; batch 2's C
    is similar to BOTH (half of each text). The incremental loop records
    the bridge only through C — A*/B* keep split historical ids. After
    compact_assignments ALL five pages share one cluster id, and the
    whole table equals what batch-mode dedup_pages produces on the full
    corpus."""
    t1, t2, bridge = _texts()
    batches = [
        [("p://a1", t1), ("p://a2", t1)],
        [("p://b1", t2), ("p://b2", t2)],
        [("p://c1", bridge)],
    ]
    sigs_d, bands_d, asg_d = (
        str(tmp_path / "s"), str(tmp_path / "b"), str(tmp_path / "a")
    )
    for i, b in enumerate(batches):
        process_incremental_batch(
            spark, _mk(spark, b), i, CFG, sigs_d, bands_d, asg_d
        )
    before = _assigned(spark, asg_d)
    # the incremental tradeoff: the bridge exists (C adopted an old id)
    # but the two old clusters are still split
    assert before["p://a1"] == before["p://a2"]
    assert before["p://b1"] == before["p://b2"]
    assert before["p://a1"] != before["p://b1"]
    assert before["p://c1"] == min(before["p://a1"], before["p://b1"])

    compact_assignments(spark, CFG, sigs_d, bands_d, asg_d)
    after = _assigned(spark, asg_d)
    assert len(set(after.values())) == 1  # one merged cluster
    assert set(after) == {u for b in batches for u, _ in b}

    # byte-identical to the batch pipeline over the full corpus
    all_pages = _mk(spark, [p for b in batches for p in b])
    batch_assign = {
        r["url"]: r["cluster_id"]
        for r in dedup_pages(all_pages, CFG).assignments.collect()
    }
    assert after == batch_assign

    # idempotent: compacting again changes nothing
    compact_assignments(spark, CFG, sigs_d, bands_d, asg_d)
    again = _assigned(spark, asg_d)
    assert again == after


def test_read_all_prefers_compacted_in_crash_window(spark, tmp_path):
    """ADVICE r4: compact_assignments writes batch=compacted BEFORE
    deleting stale batch=* dirs. If the process dies in between, readers
    must not see two conflicting cluster ids for one url — the compacted
    partition is authoritative for every url it contains; other
    partitions contribute only urls compacted never saw (batches
    appended after the compaction)."""
    from rkmh_spark.streaming.stream_classify import _write_batch

    asg_d = str(tmp_path / "a")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "url string, cluster_id string"
    )
    # stale pre-compaction batches (split historical ids)
    _write_batch(mk([("p://a1", "p://a1"), ("p://b1", "p://b1")]), asg_d, 0)
    # the compaction merged a1/b1 into one cluster…
    _write_batch(
        mk([("p://a1", "p://a1"), ("p://b1", "p://a1")]), asg_d, "compacted"
    )
    # …and a post-compaction batch added a brand-new url
    _write_batch(mk([("p://c1", "p://c1")]), asg_d, 7)
    got = _assigned(spark, asg_d)
    # one row per url; compacted wins for urls it covers; new url kept
    assert got == {"p://a1": "p://a1", "p://b1": "p://a1", "p://c1": "p://c1"}
    # no conflicting dup rows
    assert _read_all(spark, asg_d, latest_per="url").count() == 3


def test_read_all_newest_batch_beats_compacted_for_recurring_url(
    spark, tmp_path
):
    """Review r5: a url RE-ASSIGNED by a batch appended after compaction
    must surface with the new cluster id — the plain compacted-preference
    read returned the stale pre-compaction id forever. The versioned read
    (latest_per + the _compacted_through-<W> marker) ranks compacted at W,
    later batches above it, and drops crash-window stale batches <= W."""
    from rkmh_spark.streaming.stream_classify import _write_batch

    asg_d = str(tmp_path / "a")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "url string, cluster_id string"
    )
    # crash-window stale batch (covered by the compaction, delete failed)
    _write_batch(mk([("p://a1", "STALE"), ("p://b1", "p://b1")]), asg_d, 0)
    _write_batch(
        mk([("p://a1", "p://a1"), ("p://b1", "p://a1")]), asg_d, "compacted"
    )
    (tmp_path / "a" / "_compacted_through-0").touch()
    # post-compaction batch RE-assigns a1 and adds a new url
    _write_batch(mk([("p://a1", "NEW"), ("p://c1", "p://c1")]), asg_d, 7)

    got = _assigned(spark, asg_d)
    assert got == {
        "p://a1": "NEW",        # batch 7 > watermark 0 → beats compacted
        "p://b1": "p://a1",     # only compacted knows b1
        "p://c1": "p://c1",     # post-compaction addition
    }

    # no marker (legacy / crashed before the marker write): compacted is
    # authoritative per url — stale-but-consistent degradation
    (tmp_path / "a" / "_compacted_through-0").unlink()
    got = _assigned(spark, asg_d)
    assert got["p://a1"] == "p://a1" and got["p://b1"] == "p://a1"


def test_read_all_latest_per_without_compaction(spark, tmp_path):
    """Pre-first-compaction state: every batch dir is numeric, so
    partition inference types `batch` as int — the versioned read must
    still work (ANSI would reject comparing an int column to the string
    'compacted' without the explicit cast) and newest batch wins."""
    from rkmh_spark.streaming.stream_classify import _write_batch

    asg_d = str(tmp_path / "a")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "url string, cluster_id string"
    )
    _write_batch(mk([("p://a1", "OLD"), ("p://b1", "p://b1")]), asg_d, 0)
    _write_batch(mk([("p://a1", "NEW")]), asg_d, 2)
    got = _assigned(spark, asg_d)
    assert got == {"p://a1": "NEW", "p://b1": "p://b1"}


def test_stream_auto_compaction_converges(spark, tmp_path):
    """VERDICT r4 #6: with compact_every_n_batches set, a multi-batch
    stream converges to the batch-mode assignment without the caller ever
    invoking compact_assignments — compaction fires INSIDE foreachBatch.
    Three stream drains (batch ids 0,1,2), bridge page last; after the
    mid-stream drains the assignments dir holds only batch=compacted
    (proof the hook fired mid-stream, not just at the end)."""
    import os

    from rkmh_spark.streaming.stream_classify import incremental_dedup_stream

    t1, t2, bridge = _texts()
    batches = [
        [("p://a1", t1), ("p://a2", t1)],
        [("p://b1", t2), ("p://b2", t2)],
        [("p://c1", bridge)],
    ]
    src = str(tmp_path / "in")
    sigs_d = str(tmp_path / "s")
    asg_d = str(tmp_path / "a")
    ck = str(tmp_path / "ck")
    for i, b in enumerate(batches):
        _mk(spark, b).coalesce(1).write.mode("append").parquet(src)
        q = incremental_dedup_stream(
            spark, src, CFG, sigs_d, asg_d, ck, compact_every_n_batches=1
        )
        q.awaitTermination(180)
        # compaction ran inside this micro-batch: only the compacted
        # partition remains
        parts = [n for n in os.listdir(asg_d) if n.startswith("batch=")]
        assert parts == ["batch=compacted"], (i, parts)

    after = _assigned(spark, asg_d)
    all_pages = _mk(spark, [p for b in batches for p in b])
    batch_assign = {
        r["url"]: r["cluster_id"]
        for r in dedup_pages(all_pages, CFG).assignments.collect()
    }
    assert after == batch_assign
    assert len(set(after.values())) == 1  # the bridge healed everywhere


def test_streaming_probe_plan_prunes_and_no_quadratic_join(spark, tmp_path):
    """VERDICT r3 #8: the per-batch probe's executed plan must (a) prune
    the stored band table to the new batch's band_bucket partitions
    (non-empty PartitionFilters in the scan), (b) contain no
    CartesianProduct and no BNL beyond the sanctioned broadcast of the
    new-batch bands, and (c) return the same pairs as an unpruned
    full-history join."""
    from rkmh_spark.operators.lsh import band_buckets
    from rkmh_spark.operators.signatures import compute_signatures
    from rkmh_spark.streaming.stream_classify import _band_bucket_col

    t1, t2, bridge = _texts()
    sigs_d, bands_d, asg_d = (
        str(tmp_path / "s"), str(tmp_path / "b"), str(tmp_path / "a")
    )
    process_incremental_batch(
        spark,
        _mk(spark, [("p://a1", t1), ("p://a2", t1), ("p://b1", t2)]),
        0, CFG, sigs_d, bands_d, asg_d,
    )
    new = _mk(spark, [("p://c1", bridge), ("p://b2", t2)])
    bands_new = (
        band_buckets(compute_signatures(new, CFG), CFG)
        .withColumn("band_bucket", _band_bucket_col())
        .localCheckpoint(eager=True)
    )
    pairs = _probe_pairs(spark, bands_new, bands_d)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert scan_has_partition_pruning(pairs)  # band_bucket IN (...) pushed

    # pruning is semantics-free: same pairs as the unpruned union
    stored = _read_all(spark, bands_d)
    unpruned = (
        F.broadcast(
            bands_new.select(
                "band_id", "band_hash", F.col("url").alias("url_new")
            )
        )
        .join(stored.unionByName(bands_new), ["band_id", "band_hash"])
        .where(F.col("url_new") != F.col("url"))
        .select(
            F.least("url_new", "url").alias("url_a"),
            F.greatest("url_new", "url").alias("url_b"),
        )
        .distinct()
    )
    assert sorted(map(tuple, pairs.collect())) == sorted(
        map(tuple, unpruned.collect())
    )


def test_empty_first_batch_then_normal_batch(spark, tmp_path):
    """r4 review findings: a first micro-batch of all-degenerate docs
    writes an EMPTY partitioned band dir (no data files) — later batches
    must treat the stored state as absent, not crash schema inference;
    and compacting a signatures-only state yields singleton clusters."""
    sigs_d, bands_d, asg_d = (
        str(tmp_path / "s"), str(tmp_path / "b"), str(tmp_path / "a")
    )
    t1, t2, _ = _texts()
    # every doc shorter than k=8 bytes → zero shingles → zero bands
    degenerate = _mk(spark, [("p://tiny1", "ab"), ("p://tiny2", "cd")])
    process_incremental_batch(
        spark, degenerate, 0, CFG, sigs_d, bands_d, asg_d
    )
    # batch 1 must probe the (file-less) stored band dir without error
    process_incremental_batch(
        spark,
        _mk(spark, [("p://a1", t1), ("p://a2", t1)]),
        1, CFG, sigs_d, bands_d, asg_d,
    )
    assign = _assigned(spark, asg_d)
    assert assign["p://a1"] == assign["p://a2"]

    # compaction over a signatures-only state (no band files at all)
    sigs2, bands2, asg2 = (
        str(tmp_path / "s2"), str(tmp_path / "b2"), str(tmp_path / "a2")
    )
    process_incremental_batch(
        spark, degenerate, 0, CFG, sigs2, bands2, asg2
    )
    out = compact_assignments(spark, CFG, sigs2, bands2, asg2)
    got = {r["url"]: r["cluster_id"] for r in out.collect()}
    assert got == {"p://tiny1": "p://tiny1", "p://tiny2": "p://tiny2"}
