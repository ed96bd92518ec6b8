"""Structured Streaming tests (ST1-ST3): stream-static classify and
incremental dedup via foreachBatch, driven with availableNow triggers."""

import datetime
import os

import pytest

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.operators.classify import classify_pages
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.sources.pages import generate_pages, pages_schema
from rkmh_spark.streaming.stream_classify import (
    classify_file_stream,
    incremental_dedup_stream,
)


def _write_batch(spark, rows, path):
    df = spark.createDataFrame([r[:5] for r in rows], schema=pages_schema())
    df.coalesce(2).write.mode("overwrite").parquet(path)


@pytest.fixture()
def panel_rows():
    return generate_pages(n_clusters=10, dup_rate=1.0, seed=33)


def test_stream_classify_matches_batch(spark, tmp_path, panel_rows):
    seen, panel, incoming = set(), [], []
    for r in panel_rows:
        (panel if r[5] not in seen else incoming).append(r)
        seen.add(r[5])

    src = str(tmp_path / "in")
    _write_batch(spark, incoming, src)
    pdf = spark.createDataFrame([r[:5] for r in panel], schema=pages_schema())
    ref_sigs = compute_signatures(pdf, TEST_CONFIG)

    sink = str(tmp_path / "out")
    spark.catalog.clearCache()
    q = classify_file_stream(
        spark, src, ref_sigs, TEST_CONFIG,
        sink_dir=sink, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    # the resident panel is a checkpoint, not a session cache entry
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    got = {
        r["url"]: (r["best_ref"], r["shared"])
        for r in spark.read.parquet(sink).collect()
    }
    qdf = spark.createDataFrame([r[:5] for r in incoming], schema=pages_schema())
    expect = {
        r["url"]: (r["best_ref"], r["shared"])
        for r in classify_pages(
            compute_signatures(qdf, TEST_CONFIG), ref_sigs, TEST_CONFIG
        ).collect()
    }
    assert got == expect
    assert len(got) == len(incoming)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """A page arriving in batch 2 must join the cluster of its batch-1 dup."""
    rows = generate_pages(n_clusters=8, dup_rate=1.0, seed=44)
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r[5], []).append(r)

    batch1, batch2 = [], []
    for c, members in by_cluster.items():
        batch1.append(members[0])
        batch2.extend(members[1:])

    src = str(tmp_path / "in")
    sigs_dir = str(tmp_path / "sigs")
    asg_dir = str(tmp_path / "assign")

    # batch 1
    _write_batch(spark, batch1, os.path.join(src))
    q = incremental_dedup_stream(
        spark, src, TEST_CONFIG, sigs_dir, asg_dir, str(tmp_path / "ck1")
    )
    q.awaitTermination(180)

    # batch 2 arrives as new files
    df2 = spark.createDataFrame([r[:5] for r in batch2], schema=pages_schema())
    df2.coalesce(2).write.mode("append").parquet(src)
    q = incremental_dedup_stream(
        spark, src, TEST_CONFIG, sigs_dir, asg_dir, str(tmp_path / "ck1")
    )
    q.awaitTermination(180)

    assign = {r["url"]: r["cluster_id"] for r in spark.read.parquet(asg_dir).collect()}
    assert len(assign) == len(rows)

    # each batch-2 member must share its cluster id with its batch-1 original
    url_cluster = {r[0]: r[5] for r in rows}
    originals = {r[5]: r[0] for r in batch1}
    mismatches = [
        u for u, c in ((r[0], r[5]) for r in batch2)
        if assign[u] != assign[originals[c]]
    ]
    # mutations are mild; near-all must match their original's cluster
    assert len(mismatches) <= max(1, len(batch2) // 10), mismatches
