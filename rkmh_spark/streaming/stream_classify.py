"""Structured Streaming front-ends (reference ST1-ST3, SURVEY.md §2.8).

rkmh `stream` hashes the reference panel once, holds it resident, and
classifies reads as they arrive on STDIN in constant memory
(/root/reference/README.md:53-73, src/rkmh.cpp:1329-1414). The Spark
reshaping is a stream-static pattern: the panel is a static signatures
DataFrame (broadcast per micro-batch); new pages arrive via readStream
and each micro-batch runs the SAME batch kernels (signatures → band join →
verify → argmax) inside foreachBatch.

foreachBatch rather than a streaming join/agg: the reference's semantics
are arrival-order with no event-time (no watermark concept maps to it,
SURVEY.md §2.8), and foreachBatch lets the micro-batch reuse the exact
batch operators — one code path, two execution modes, which is also how
the correctness gate can cover streaming logic.

State across batches (incremental dedup): new pages match against the
panel AND get appended to it via the checkpointed signatures table, so a
page arriving in batch k can match a page from batch j<k. This is the
constant-memory growth model the reference documents (README.md:64-65) —
state = panel signatures only, never raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rkmh_spark.config import DedupConfig
from rkmh_spark.operators.classify import classify_pages
from rkmh_spark.operators.signatures import compute_signatures
from rkmh_spark.sources.pages import pages_schema


def classify_file_stream(
    spark: SparkSession,
    source_dir: str,
    ref_sigs: DataFrame,
    cfg: DedupConfig,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Classify newly arriving page files against a static panel.

    Returns the StreamingQuery; with ``available_now`` the query drains
    existing files and stops (test/batch-catchup mode), otherwise it runs
    continuously with the default micro-batch trigger (ST3: the buffered
    chunk loop, bufsz → micro-batch).
    """
    stream = (
        spark.readStream.schema(pages_schema())
        .format("parquet")
        .load(source_dir)
    )
    ref_sigs = ref_sigs.persist()  # hashed once, resident (rkmh.cpp:813-838)

    def handle(batch: DataFrame, batch_id: int) -> None:
        sigs = compute_signatures(batch, cfg)
        out = classify_pages(sigs, ref_sigs, cfg)
        # idempotent per-batch sink: foreachBatch is at-least-once, so a
        # replayed batch OVERWRITES its own partition instead of appending
        # duplicate rows (ADVICE r1)
        _write_batch(out, sink_dir, batch_id)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_batch(
    df: DataFrame,
    root: str,
    batch_id: int | str,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Exactly-once-per-batch parquet sink for foreachBatch: each batch
    owns the hive-style partition ``root/batch=<id>`` and replays
    overwrite it — the standard idempotent-foreachBatch pattern. Readers
    use _read_all (drops the synthetic ``batch`` partition column).
    ``partition_cols``: extra hive partitioning INSIDE the batch dir
    (the band table buckets by band_bucket so probes prune)."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(f"{root.rstrip('/')}/batch={batch_id}")


_COMPACT_MARKER = "_compacted_through-"


def _compaction_watermark(fs, jvm, root: str) -> int | None:
    """Highest batch id the compacted partition covers, recorded as an
    empty marker file ``_compacted_through-<W>`` (name-encoded: no
    content IO through py4j). The name must contain no "=": Spark's
    hidden-file filter skips "_"-prefixed paths ONLY when the name has
    no "=" (hive partition dirs must survive the filter), so an
    "="-spelled marker would be read as a parquet data file. None when
    no marker exists (legacy state, or a crash between the compacted
    write and the marker write)."""
    path = jvm.org.apache.hadoop.fs.Path(root)
    best = None
    for s in fs.listStatus(path):
        name = s.getPath().getName()
        if name.startswith(_COMPACT_MARKER):
            w = int(name[len(_COMPACT_MARKER):])
            best = w if best is None else max(best, w)
    return best


def _read_all(
    spark: SparkSession, root: str, latest_per: str | None = None
) -> DataFrame | None:
    """Read every batch partition under ``root``; None if nothing written.

    Probes through Hadoop's FileSystem API, not os.listdir — the sink
    dirs live wherever the Spark conf points (HDFS/S3/local); a driver-
    local listdir silently returned None for remote roots, making every
    micro-batch treat all stored state as absent (ADVICE r2).

    ``latest_per``: versioned newest-wins read for keyed state (the
    assignments table passes "url"). Each row's version is its numeric
    batch id; the compacted partition carries the watermark W it was
    built through (marker file), so a url re-assigned by a batch AFTER
    compaction beats its compacted row (review r5 — the plain
    compacted-preference read returned the STALE pre-compaction cluster
    id for recurring urls), while crash-window stale batches (id <= W)
    are dropped entirely. Without a marker (legacy / crashed before the
    marker write), compacted outranks everything per url — the old
    stale-but-consistent degradation."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    if not any(
        s.getPath().getName().startswith("batch=")
        for s in fs.listStatus(path)
    ):
        return None
    # a PARTITIONED empty write (e.g. a first micro-batch with zero
    # bands) leaves batch=<id>/_SUCCESS and no data files at all — with
    # no schema-bearing part file anywhere, read.parquet raises instead
    # of returning an empty frame (r4 review finding). Require ≥1 data
    # file before attempting schema inference.
    it = fs.listFiles(path, True)
    has_data = False
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.endswith(".parquet"):
            has_data = True
            break
    if not has_data:
        return None
    df = spark.read.option("basePath", root).parquet(root)
    has_comp = any(
        s.getPath().getName() == "batch=compacted" for s in fs.listStatus(path)
    )
    from pyspark.sql import Window, functions as F

    if latest_per is not None:
        wmark = _compaction_watermark(fs, jvm, root) if has_comp else None
        if has_comp and wmark is None:
            # legacy/crash-window: compacted authoritative per key
            comp_ver = F.lit(2**62)
        else:
            comp_ver = F.lit(wmark if wmark is not None else -1)
        # partition-type inference types `batch` as int when every dir is
        # numeric (no compacted yet) — compare through an explicit string
        # cast so ANSI mode never tries to cast "compacted" to int
        b = F.col("batch").cast("string")
        ver = F.when(b == "compacted", comp_ver).otherwise(b.cast("long"))
        out = df.withColumn("_ver", ver)
        if wmark is not None:
            # crash-window stale batches (fully covered by compacted)
            out = out.where((b == "compacted") | (F.col("_ver") > wmark))
        w = Window.partitionBy(latest_per).orderBy(F.desc("_ver"))
        return (
            out.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk", "_ver", "batch")
        )
    if has_comp:
        # crash-window consistency (ADVICE r4): compact_assignments writes
        # batch=compacted BEFORE deleting the stale batch=* partitions. If
        # the process dies in between, a plain union returns two rows per
        # url with CONFLICTING cluster ids. The compacted partition is
        # authoritative for every url it contains (it was built from the
        # full state); other partitions only contribute urls compacted has
        # never seen (batches appended AFTER the compaction). This
        # degrades the crash window to stale-but-consistent.
        comp = df.where(F.col("batch") == "compacted").drop("batch")
        rest = df.where(F.col("batch") != "compacted").drop("batch")
        return rest.join(
            comp.select("url"), "url", "left_anti"
        ).unionByName(comp)
    return df.drop("batch")


def incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    cfg: DedupConfig,
    signatures_dir: str,
    assignments_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    cms=None,
    compact_every_n_batches: int | None = None,
):
    """Incremental near-dup assignment for newly crawled pages.

    Per micro-batch (process_incremental_batch): sketch the new pages;
    band ONLY the new batch and join its bands against the persisted band
    table (plus itself for intra-batch pairs) — per-batch banding work is
    O(batch), not O(panel); r1 re-banded the whole accumulated panel every
    batch, a creeping O(panel²) total. A new page matching an existing one
    inherits that page's cluster id (min-url rule); then the batch's
    signatures AND bands are appended to their tables as an idempotent
    ``batch=<id>`` partition (at-least-once replays overwrite, never
    duplicate — ADVICE r1).

    The stored band table is hive-partitioned by
    ``band_bucket = pmod(band_hash, N_BAND_BUCKETS)`` and the per-batch
    probe prunes to the new batch's buckets (see _probe_pairs) — the
    scan reads matching bucket dirs, not the full band history.

    ``compact_every_n_batches``: run compact_assignments inline after
    every Nth micro-batch (VERDICT r4 #6) so a long-running stream
    converges to the batch-mode assignment without operator
    intervention — the per-batch loop is append-only, so bridges between
    clusters formed in different earlier batches only heal at
    compaction. Compaction cost is O(accumulated state); pick N so the
    amortized cost stays a small fraction of per-batch work (hourly /
    daily in production).
    """
    stream = (
        spark.readStream.schema(pages_schema())
        .format("parquet")
        .load(source_dir)
    )
    bands_dir = signatures_dir.rstrip("/") + "_bands"

    def handle(batch: DataFrame, batch_id: int) -> None:
        process_incremental_batch(
            spark, batch, batch_id, cfg, signatures_dir, bands_dir,
            assignments_dir, cms=cms,
        )
        if (
            compact_every_n_batches
            and (batch_id + 1) % compact_every_n_batches == 0
        ):
            compact_assignments(
                spark, cfg, signatures_dir, bands_dir, assignments_dir
            )

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: hive buckets for the stored streaming band table — 64 dirs per batch
#: partition; production (Iceberg) would spell it bucket(N, band_hash)
N_BAND_BUCKETS = 64


def _band_bucket_col():
    from pyspark.sql import functions as F

    return F.pmod(F.col("band_hash"), F.lit(N_BAND_BUCKETS)).cast("int")


def _probe_pairs(
    spark: SparkSession, bands_new: DataFrame, bands_dir: str
) -> DataFrame:
    """Candidate pairs touching the new batch: new-bands ⋈ (stored ∪ new)
    on the band key; the new side is small → broadcast, the stored side
    only scans. The stored band table is hive-partitioned by
    ``band_bucket = pmod(band_hash, N_BAND_BUCKETS)`` (VERDICT r3 #4), and
    the probe filters to the new batch's buckets — pmod(band_hash) is a
    function of the join key, so pruned partitions cannot equi-join;
    the scan reads matching bucket dirs instead of the full band history
    (PartitionFilters in the plan, asserted by the streaming plan gate).
    ``bands_new`` must already carry band_bucket."""
    from pyspark.sql import functions as F

    stored_bands = _read_all(spark, bands_dir)
    if stored_bands is None:
        all_bands = bands_new
    else:
        new_buckets = [
            r[0] for r in bands_new.select("band_bucket").distinct().collect()
        ]
        all_bands = stored_bands.where(
            F.col("band_bucket").isin(new_buckets)
        ).unionByName(bands_new)
    return (
        F.broadcast(
            bands_new.select("band_id", "band_hash", F.col("url").alias("url_new"))
        )
        .join(all_bands, ["band_id", "band_hash"])
        .where(F.col("url_new") != F.col("url"))
        .select(
            F.least("url_new", "url").alias("url_a"),
            F.greatest("url_new", "url").alias("url_b"),
        )
        .distinct()
    )


def process_incremental_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    cfg: DedupConfig,
    signatures_dir: str,
    bands_dir: str,
    assignments_dir: str,
    cms=None,
) -> None:
    """One micro-batch of the incremental dedup loop (module-level so the
    at-least-once replay semantics are unit-testable without a stream).

    ``cms``: an optional pre-built CountMinSketchNP — when given and
    ``cfg.min_occ`` is set, the reference's -M filter runs INSIDE the
    signature kernel per micro-batch (the table broadcasts with the UDF
    closure; zero shuffle, no exact depth-table rebuild per batch —
    VERDICT r2 #8). The counter is built offline by a corpus scan; it
    is deliberately NOT updated here, because at-least-once replays of
    a batch would double-count its shingles."""
    from pyspark.sql import functions as F

    from rkmh_spark.operators.dedup import assign_clusters
    from rkmh_spark.operators.lsh import band_buckets
    from rkmh_spark.operators.verify import verify_pairs

    if cms is not None and cfg.min_occ is not None:
        from rkmh_spark.operators.signatures import (
            compute_signatures_min_occ_approx,
        )

        sigs_new = compute_signatures_min_occ_approx(batch, cfg, cms)
    else:
        sigs_new = compute_signatures(batch, cfg)
    sigs_new = sigs_new.localCheckpoint(eager=True)
    bands_new = (
        band_buckets(sigs_new, cfg)
        .withColumn("band_bucket", _band_bucket_col())
        .localCheckpoint(eager=True)
    )
    pairs = _probe_pairs(spark, bands_new, bands_dir)

    stored_sigs = _read_all(spark, signatures_dir)
    combined = (
        sigs_new if stored_sigs is None else stored_sigs.unionByName(sigs_new)
    )
    verified = verify_pairs(pairs, combined, cfg)

    # cluster-id stability: if any component member already holds an
    # assignment from an earlier batch, the whole component adopts the
    # smallest such id (assignments are append-only; a later bridge
    # between two old clusters is recorded through the new pages only —
    # documented incremental-CC tradeoff).
    prev = _read_all(spark, assignments_dir, latest_per="url")

    def inherit(labels: DataFrame) -> DataFrame:
        old_ids = (
            labels.join(prev.withColumnRenamed("url", "node"), "node", "left")
            .groupBy("label")
            .agg(F.min("cluster_id").alias("old_id"))
        )
        return labels.join(old_ids, "label").select(
            "node", F.coalesce("old_id", "label").alias("label")
        )

    assign = assign_clusters(
        sigs_new.select("url"),
        verified.select("url_a", "url_b"),
        cfg,
        relabel=None if prev is None else inherit,
    )
    _write_batch(assign, assignments_dir, batch_id)
    _write_batch(sigs_new, signatures_dir, batch_id)
    _write_batch(bands_new, bands_dir, batch_id, partition_cols=("band_bucket",))


def compact_assignments(
    spark: SparkSession,
    cfg: DedupConfig,
    signatures_dir: str,
    bands_dir: str,
    assignments_dir: str,
) -> DataFrame:
    """Periodic compaction for the incremental stream (VERDICT r3 #3):
    re-run candidates → verify → connected components over the FULL
    accumulated signature/band state and rewrite assignments.

    The per-batch loop is append-only: a new page bridging two clusters
    formed in EARLIER batches links them only through itself — the old
    members keep their historical split ids (documented tradeoff in
    process_incremental_batch). Compaction closes that gap: global CC
    over all verified pairs assigns every member of a bridged component
    the same min-url cluster id — byte-identical to what the batch-mode
    dedup pipeline would produce on the full corpus (pytest-pinned).

    Rewrite is idempotent: the full assignment set is materialized
    (localCheckpoint) BEFORE any delete, written as the single partition
    ``batch=compacted``, then stale ``batch=*`` partitions are removed.
    A crash between write and delete leaves every url still assigned
    (stale rows are superseded on the next compaction; production would
    make this one Iceberg snapshot commit). Returns the assignments.
    """
    from pyspark.sql import functions as F

    from rkmh_spark.operators.dedup import assign_clusters
    from rkmh_spark.operators.lsh import candidate_pairs
    from rkmh_spark.operators.verify import verify_pairs

    sigs = _read_all(spark, signatures_dir)
    if sigs is None:
        raise ValueError(f"no signatures under {signatures_dir}")
    bands = _read_all(spark, bands_dir)
    if bands is None:
        # signatures but no band state (e.g. crash between the two
        # writes, or every batch was all-degenerate docs): no candidate
        # pairs exist, so every page is its own cluster — not a crash
        assign = sigs.select(
            "url", F.col("url").alias("cluster_id")
        ).localCheckpoint(eager=True)
    else:
        pairs = candidate_pairs(bands.drop("band_bucket"), cfg)
        verified = verify_pairs(pairs, sigs, cfg)
        assign = assign_clusters(
            sigs.select("url").distinct(), verified.select("url_a", "url_b"), cfg
        ).localCheckpoint(eager=True)  # materialize before any delete
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(assignments_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    # watermark = highest numeric batch id the compaction covers; rows
    # from batches <= W are superseded wholesale, rows written by LATER
    # batches must outrank the compacted row for their url (review r5)
    covered = [
        int(s.getPath().getName()[len("batch="):])
        for s in fs.listStatus(root)
        if s.getPath().getName().startswith("batch=")
        and s.getPath().getName() != "batch=compacted"
    ]
    wmark = max(covered) if covered else -1
    _write_batch(assign, assignments_dir, "compacted")
    # marker AFTER the compacted write (a crash in between degrades to
    # the legacy compacted-preferred read), BEFORE the deletes
    for s in fs.listStatus(root):
        name = s.getPath().getName()
        if name.startswith(_COMPACT_MARKER):
            fs.delete(s.getPath(), False)
    fs.createNewFile(
        jvm.org.apache.hadoop.fs.Path(
            f"{assignments_dir.rstrip('/')}/{_COMPACT_MARKER}{wmark}"
        )
    )
    for s in fs.listStatus(root):
        name = s.getPath().getName()
        if (
            name.startswith("batch=")
            and name != "batch=compacted"
            and int(name[len("batch="):]) <= wmark
        ):
            fs.delete(s.getPath(), True)
    return assign
