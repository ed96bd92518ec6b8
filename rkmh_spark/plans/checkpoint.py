"""Stage checkpointing + per-partition lineage (SURVEY.md §7.2 M5).

Every pipeline stage writes a table + a manifest; a re-run skips stages
whose manifest is complete, so any stage resumes idempotently after a
kill (north_rule: "resumable from checkpoint with per-partition lineage +
metrics"). The reference's closest analog is the declared-but-unbuilt
sketch JSON reload (-F/-R, /root/reference/src/rkmh.cpp:552-582,639-640) —
resume is a first-class goal here precisely because the reference left it
unfinished. The flagship runs its stages through ``CheckpointManager.stage``
via ``dedup_pages(pages, cfg, checkpoint=mgr)``.

Table format: Iceberg when a catalog is configured (production posture —
hidden partitioning, snapshot rollback); this sandbox has vanilla PySpark
4.1.2 with no iceberg-spark-runtime jar, so the default writer degrades to
partitioned parquet + a JSON manifest carrying what Iceberg's snapshot
summary would: row counts, per-partition lineage, a content checksum, and
wall-clock. The layout and resume semantics are identical either way
(SURVEY.md §7.4 risk 5).

Content checksum = sum over rows of xxhash64(all columns) — order- and
partitioning-insensitive, computed distributed (one agg), used by the
idempotence tests to assert byte-equivalent stage outputs.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "_MANIFEST.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an iceberg-spark-runtime jar is on the classpath."""
    try:
        # py4j hands back a JavaPackage stub for ANY dotted path without
        # touching the classloader — only Class.forName really probes
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")
        return True
    except Exception:
        return False


class CheckpointManager:
    """``table_format="parquet"`` (default, this sandbox) or ``"iceberg"``.

    The Iceberg path is the production posture (SURVEY §7.4 risk 5):
    stages become catalog tables (``catalog.namespace.stage_<name>``)
    written with ``writeTo(...).using("iceberg").createOrReplace()`` —
    snapshot isolation makes the write itself atomic, so the JSON
    manifest carries only the lineage/metrics, not the completeness bit
    (Iceberg's own snapshot is the completeness bit; the manifest stays
    for the idempotence checksum). Requires iceberg-spark-runtime on the
    classpath + a configured catalog; this sandbox has neither, so the
    constructor raises early with a clear message rather than failing
    deep inside a write (tested in tests/test_resume.py).
    """

    def __init__(
        self,
        root: str,
        run_id: str = "run0",
        table_format: str = "parquet",
        catalog: str | None = None,
        namespace: str = "rkmh",
        spark: SparkSession | None = None,
    ):
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unknown table_format: {table_format}")
        if table_format == "iceberg":
            if catalog is None:
                raise RuntimeError(
                    "table_format='iceberg' needs a configured catalog name "
                    "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)"
                )
            if spark is not None and not iceberg_available(spark):
                raise RuntimeError(
                    "table_format='iceberg' but no iceberg-spark-runtime jar "
                    "on the classpath — add it via spark.jars.packages or "
                    "use table_format='parquet'"
                )
        self.table_format = table_format
        self.catalog = catalog
        self.namespace = namespace
        self.root = root
        self.run_id = run_id
        os.makedirs(root, exist_ok=True)

    def table_identifier(self, stage: str) -> str:
        """Catalog identifier for a stage table (iceberg mode)."""
        return f"{self.catalog}.{self.namespace}.stage_{stage}"

    # -- paths -------------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, f"stage={stage}")

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.stage_path(stage), MANIFEST)

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_complete(self, stage: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("status") == "complete")

    # -- core --------------------------------------------------------------
    def stage(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """Return the stage output, computing + persisting only if needed.

        The parquet write is atomic-enough for resume purposes: the
        manifest is written AFTER a successful write, so a kill mid-write
        leaves no complete-manifest and the stage recomputes.
        """
        path = self.stage_path(name)
        if self.is_complete(name):
            return self._read(spark, name, path)

        t0 = time.perf_counter()
        df = build()
        if self.table_format == "iceberg":
            # snapshot-isolated replace: a kill mid-write leaves the prior
            # snapshot intact; resume re-runs the stage transactionally
            df.writeTo(self.table_identifier(name)).using(
                "iceberg"
            ).createOrReplace()
        else:
            df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.perf_counter() - t0) * 1000)

        out = self._read(spark, name, path)
        lineage, checksum, total_rows = self._lineage(out)
        # the parquet branch creates stage_path as a side effect of the
        # write; the iceberg branch writes into the CATALOG warehouse, so
        # the manifest dir must be created explicitly (ADVICE r2: iceberg
        # mode crashed here with FileNotFoundError after a successful write)
        os.makedirs(self.stage_path(name), exist_ok=True)
        with open(self._manifest_path(name), "w") as f:
            json.dump(
                {
                    "status": "complete",
                    "stage": name,
                    "run_id": self.run_id,
                    "rows": total_rows,
                    "checksum": checksum,
                    "wall_ms": wall_ms,
                    "partitions": lineage,
                },
                f,
                indent=1,
            )
        return out

    def _read(self, spark: SparkSession, name: str, path: str) -> DataFrame:
        if self.table_format == "iceberg":
            return spark.read.table(self.table_identifier(name))
        return spark.read.parquet(path)

    @staticmethod
    def _lineage(df: DataFrame):
        """Per-partition row counts + order-insensitive content checksum,
        in one pass (groupBy partition id is a tiny shuffle)."""
        per_part = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__h", F.xxhash64(*df.columns))
            .groupBy("__pid")
            .agg(
                F.count("*").alias("rows"),
                # decimal(38,0) sum: xxhash64 values overflow long under
                # ANSI mode (Spark 4 default)
                F.sum(F.col("__h").cast("decimal(38,0)")).alias("hsum"),
            )
            .collect()
        )
        lineage = [
            {"partition_id": r["__pid"], "rows": r["rows"]} for r in per_part
        ]
        checksum = int(sum(int(r["hsum"] or 0) for r in per_part) % (2**63))
        total = int(sum(r["rows"] for r in per_part))
        return lineage, checksum, total

