"""Resumability: kill-after-stage-k then re-run → identical outputs,
completed stages skipped (BASELINE.md resumability metric). The
checkpointed run is dedup_pages(checkpoint=) itself, so it must give the
same assignments as the plain run under every filter and pass."""

import dataclasses
import json
import os

import pytest

from rkmh_spark.config import TEST_CONFIG
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.plans.checkpoint import CheckpointManager
from rkmh_spark.sources.pages import pages_dataframe


@pytest.fixture()
def pages(spark):
    return pages_dataframe(spark, n_clusters=12, dup_rate=0.6, seed=3)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _assignments(spark, pages, root, cfg=TEST_CONFIG, **kw):
    ckpt = CheckpointManager(str(root))
    res = dedup_pages(pages, cfg, checkpoint=ckpt, **kw)
    return _rows(res.assignments), ckpt


def test_full_run_then_rerun_identical(spark, pages, tmp_path):
    a1, ckpt = _assignments(spark, pages, tmp_path / "ck")
    # all four manifests complete
    for st in ("signatures", "candidates", "pairs", "assignments"):
        assert ckpt.is_complete(st), st
    a2, _ = _assignments(spark, pages, tmp_path / "ck")
    assert a1 == a2


@pytest.mark.parametrize(
    "cfg,containment",
    [
        (TEST_CONFIG, None),
        (dataclasses.replace(TEST_CONFIG, max_doc_freq=3), None),  # -I
        (dataclasses.replace(TEST_CONFIG, min_occ=2), None),  # -M
        (TEST_CONFIG, 0.9),
    ],
    ids=["test_config", "max_doc_freq", "min_occ", "containment"],
)
def test_checkpointed_run_matches_plain_run(
    spark, pages, tmp_path, cfg, containment
):
    kw = dict(containment_threshold=containment)
    a1, ckpt = _assignments(spark, pages, tmp_path / "ck", cfg, **kw)
    for st in ("signatures", "candidates", "pairs", "assignments"):
        assert ckpt.is_complete(st), st
    # checkpointing changes where stages land, never what they compute
    assert a1 == _rows(dedup_pages(pages, cfg, **kw).assignments)


def test_kill_after_stage_resumes_with_same_result(spark, pages, tmp_path):
    root = tmp_path / "ck"
    # simulate a run killed after the signatures stage completed
    ckpt = CheckpointManager(str(root))
    from rkmh_spark.operators.signatures import compute_signatures

    ckpt.stage(spark, "signatures", lambda: compute_signatures(pages, TEST_CONFIG))
    sig_manifest = ckpt.manifest("signatures")
    assert sig_manifest["status"] == "complete"

    # resume: full pipeline reuses the signatures checkpoint
    a1, ckpt2 = _assignments(spark, pages, root)
    assert ckpt2.manifest("signatures")["checksum"] == sig_manifest["checksum"]

    # reference run from scratch must agree
    a2, _ = _assignments(spark, pages, tmp_path / "fresh")
    assert a1 == a2


def test_incomplete_stage_recomputes(spark, pages, tmp_path):
    root = tmp_path / "ck"
    a1, ckpt = _assignments(spark, pages, root)
    # corrupt: mark pairs stage incomplete (as if killed mid-write)
    mpath = os.path.join(ckpt.stage_path("pairs"), "_MANIFEST.json")
    m = json.load(open(mpath))
    m["status"] = "incomplete"
    json.dump(m, open(mpath, "w"))
    os.remove(os.path.join(ckpt.stage_path("assignments"), "_MANIFEST.json"))

    a2, ckpt2 = _assignments(spark, pages, root)
    assert a1 == a2
    assert ckpt2.is_complete("pairs")


def test_lineage_rows_sum_to_total(spark, pages, tmp_path):
    _, ckpt = _assignments(spark, pages, tmp_path / "ck")
    for st in ("signatures", "pairs", "assignments"):
        m = ckpt.manifest(st)
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"], st
        assert m["wall_ms"] >= 0 and "checksum" in m


class _FakeWriterV2:
    """Stand-in for DataFrameWriterV2 wired to a directory 'warehouse':
    ``createOrReplace`` materializes the table as parquet keyed by the
    catalog identifier. Lets the iceberg branch of CheckpointManager.stage
    execute end-to-end in a sandbox with no iceberg-spark-runtime jar
    (Maven is unreachable here — documented in BASELINE.md). What this
    does NOT test: Iceberg's own snapshot/commit protocol."""

    def __init__(self, df, ident: str, warehouse: str):
        self.df, self.ident, self.warehouse = df, ident, warehouse

    def using(self, fmt: str):
        assert fmt == "iceberg"
        return self

    def createOrReplace(self):
        self.df.write.mode("overwrite").parquet(
            os.path.join(self.warehouse, self.ident)
        )


def test_iceberg_branch_write_manifest_resume(spark, pages, tmp_path, monkeypatch):
    """Exercises the exact code path production runs with a real catalog:
    writeTo(...).using("iceberg").createOrReplace() → manifest → resume
    skip → read-back via read.table. Regression for ADVICE r2: the
    manifest open() crashed with FileNotFoundError after a successful
    table write because only the parquet branch created the stage dir."""
    # Spark 4: sessions hand out pyspark.sql.classic.* subclasses that
    # OVERRIDE the base-class methods — patch the classes the instances
    # actually resolve against
    df_cls = type(spark.range(1))
    reader_cls = type(spark.read)

    warehouse = str(tmp_path / "warehouse")
    os.makedirs(warehouse, exist_ok=True)
    monkeypatch.setattr(
        df_cls, "writeTo", lambda self, ident: _FakeWriterV2(self, ident, warehouse)
    )
    real_parquet = reader_cls.parquet
    monkeypatch.setattr(
        reader_cls,
        "table",
        lambda self, ident: real_parquet(
            self, os.path.join(warehouse, ident)
        ),
    )
    monkeypatch.setattr(
        "rkmh_spark.plans.checkpoint.iceberg_available", lambda s: True
    )

    root = tmp_path / "ck_ice"

    def _run():
        ckpt = CheckpointManager(
            str(root), table_format="iceberg", catalog="ice", spark=spark
        )
        res = dedup_pages(pages, TEST_CONFIG, checkpoint=ckpt)
        return _rows(res.assignments), ckpt

    a1, ckpt = _run()
    for st in ("signatures", "candidates", "pairs", "assignments"):
        assert ckpt.is_complete(st), st
        # table landed in the warehouse under the catalog identifier
        assert os.path.isdir(
            os.path.join(warehouse, f"ice.rkmh.stage_{st}")
        ), st

    # second run resumes: identical assignments, identical checksums
    a2, ckpt2 = _run()
    assert a1 == a2
    for st in ("signatures", "pairs"):
        assert ckpt2.manifest(st)["checksum"] == ckpt.manifest(st)["checksum"]

    # cross-format parity: parquet mode on a fresh root agrees row-for-row
    a3, _ = _assignments(spark, pages, tmp_path / "ck_pq")
    assert a1 == a3


def test_iceberg_mode_is_config_switchable(spark, tmp_path):
    """The Iceberg code path exists and is selected by config; in this
    sandbox (no iceberg-spark-runtime jar) it must fail EARLY with a
    clear message, not deep inside a write."""
    import pytest

    from rkmh_spark.plans.checkpoint import CheckpointManager, iceberg_available

    assert not iceberg_available(spark)  # sandbox posture
    with pytest.raises(RuntimeError, match="catalog"):
        CheckpointManager(str(tmp_path), table_format="iceberg")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        CheckpointManager(
            str(tmp_path), table_format="iceberg", catalog="ice", spark=spark
        )
    ck = CheckpointManager(
        str(tmp_path), table_format="iceberg", catalog="ice"
    )
    assert ck.table_identifier("signatures") == "ice.rkmh.stage_signatures"
    with pytest.raises(ValueError):
        CheckpointManager(str(tmp_path), table_format="delta")


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "path", ["plain", "containment", "checkpoint", "distributed_cc"]
)
def test_release_empties_cache_and_keeps_assignments(
    spark, pages, tmp_path, path
):
    """DedupResult.release() is the one owner of the persisted signatures
    and pairs: afterwards the session cache is empty, and the assignments
    (which read neither relation) give the same rows as before."""
    kw = {
        "plain": {},
        "containment": dict(containment_threshold=0.9),
        "checkpoint": dict(checkpoint=CheckpointManager(str(tmp_path / "ck"))),
        "distributed_cc": {},
    }[path]
    cfg = (
        dataclasses.replace(TEST_CONFIG, cc_driver_threshold=0)
        if path == "distributed_cc" else TEST_CONFIG
    )
    spark.catalog.clearCache()
    res = dedup_pages(pages, cfg, **kw)
    assert not _cache_empty(spark)
    before = _rows(res.assignments)
    res.release()
    assert _cache_empty(spark)
    assert _rows(res.assignments) == before
    assert _cache_empty(spark)


def test_failed_run_releases_its_persists(spark, pages, monkeypatch):
    """A run that raises after persisting hands no result to an owner, so
    it releases the signatures and pairs itself."""
    import rkmh_spark.operators.dedup as dedup_mod

    def fail(*a, **k):
        raise RuntimeError("components failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(dedup_mod, "connected_components", fail)
    with pytest.raises(RuntimeError, match="components failed"):
        dedup_pages(pages, TEST_CONFIG)
    assert _cache_empty(spark)
