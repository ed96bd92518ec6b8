"""Dedup benchmark: one workload per run, one JSON result line at the end.

    python3 perfbench/run.py --workload dedup_longdocs --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates the workload's corpus
from ``--seed``, starts a local Spark session, warms up, then times the
workload's op for ``--seconds`` and checks every op's output.

Op times are reported relative to a fixed reference Spark job that runs
no engine code, timed right before and right after each op in the same
session. The shared hosts this runs on change speed by up to 2x over
minutes, which moves raw seconds between runs of the same code by more
than any useful bound; both the op and the reference job move with the
host, so their ratio stays put while a slower engine still raises it.
Raw seconds are printed too, for reading.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the traced
run: plain ops alternating with the same pipeline composed layer by layer
(each boundary materialized), then the layers the flagship does not reach
(corpus passes on dedup_longdocs, one stream epoch on dedup_dupheavy);
it prints the per-layer metrics. Lines before the last one are a
human-readable report with sample counts and run diagnostics.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

MAX_CORES = 4  # Spark's local parallelism, never above nproc
DRIVER_MEM = "2g"
MIN_OPS = 3
# the flagship's layers, as the traced run composes them
LAYERS = ("signatures", "lsh", "verify", "components", "assign")
WARMUP_OPS = 3

END_TO_END = {
    "op_p50_rel": "refs",
    "pages_per_ref": "pages/ref",
    "dup_pair_recall": "ratio",
    "ok_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "signatures.wall_s": "s",
    "signatures.jobs": "count",
    "signatures.executor_s": "s",
    "signatures.docs": "count",
    "signatures.empty_sketches": "count",
    "signatures.text_mb": "MB",
    "lsh.wall_s": "s",
    "lsh.jobs": "count",
    "lsh.executor_s": "s",
    "lsh.shuffle_mb": "MB",
    "lsh.band_rows": "count",
    "lsh.buckets_ge2": "count",
    "lsh.hot_buckets": "count",
    "lsh.candidates": "count",
    "verify.wall_s": "s",
    "verify.jobs": "count",
    "verify.executor_s": "s",
    "verify.shuffle_mb": "MB",
    "verify.pairs": "count",
    "verify.precision": "ratio",
    "components.wall_s": "s",
    "components.jobs": "count",
    "components.edges": "count",
    "components.clusters": "count",
    "dedup.assign_wall_s": "s",
    "dedup.jobs": "count",
    "dedup.stages": "count",
    "dedup.spill_mb": "MB",
    "dedup.gc_s": "s",
    "dedup.leaked_persists": "count",
    "dedup.trace_overhead_s": "s",
    "stream_classify.batch_wall_s": "s",
    "stream_classify.batch_jobs": "count",
    "stream_classify.batch_executor_s": "s",
    "stream_classify.busy_share": "ratio",
    "stream_classify.state_mb_written": "MB",
    "stream_classify.state_files": "count",
    "stream_classify.compact_wall_s": "s",
    "stream_classify.compact_jobs": "count",
    "stream_classify.compact_executor_s": "s",
    "dedup_exact.exact_wall_s": "s",
    "dedup_exact.simhash_wall_s": "s",
    "dedup_exact.simhash_jobs": "count",
    "dedup_exact.simhash_shuffle_mb": "MB",
    "dedup_exact.ngram_wall_s": "s",
    "dedup_exact.ngram_jobs": "count",
    "dedup_exact.ngram_shuffle_mb": "MB",
    "dedup_exact.leaked_persists": "count",
    "span_dedup.wall_s": "s",
    "span_dedup.jobs": "count",
    "span_dedup.shuffle_mb": "MB",
    "span_dedup.spans": "count",
}


class Run:
    """Check outcomes of one run: ops attempted, ops failed, first notes."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if note and len(self.notes) < 5:
                self.notes.append(note)


# ---------------------------------------------------------------- host


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of the Spark driver JVM and every
    process under it (the Python workers)."""
    total_kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


# ---------------------------------------------------------------- session


def start_session(work: str, cores: int, trace: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (the Spark launcher and the Spark driver) keeps its temp
    # files in the work dir and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Python workers hash strings the same way in every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    from rkmh_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # a fixed-size heap: GC behaviour and resident size do not depend on
        # how far the heap happened to grow
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the Spark driver JVM and its workers to exit."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    # a run interrupted in the middle of a call can leave the gateway
    # unusable; the JVM is reaped below either way
    for step in (spark.stop, gateway.shutdown):
        try:
            step()
        except (Py4JError, OSError):
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def quiesce(spark) -> set[int]:
    """Collect garbage on both sides until the set of persisted RDDs stops
    changing, and return their ids. Spark tracks persisted RDDs weakly, so
    a checkpoint nobody references drops out only after a JVM GC and a
    pass of the ContextCleaner."""
    ids: set[int] | None = None
    for _ in range(5):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.05)
        prev, ids = ids, set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        if ids == prev:
            break
    return ids


def settle(spark, before: set[int] = frozenset()) -> int:
    """Count the persisted RDDs an op left registered once its results
    were dropped (its leaks: ids not in ``before``), then clear the cache.
    Runs outside the timing, so each op also starts from the same clean
    heap instead of paying for its predecessor's garbage."""
    leaked = len(quiesce(spark) - before)
    spark.catalog.clearCache()
    return leaked


# ---------------------------------------------------------------- runs


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def reference(spark, cores: int) -> float:
    """Seconds one reference job takes; raises if its result is wrong."""
    from workloads import reference_op

    dt, ok = timed(lambda: reference_op(spark, cores))
    if not ok:
        raise RuntimeError("the reference job gave a wrong result")
    return dt


def warm_up(spark, corpus, cfg, cores: int) -> tuple[list[float], float]:
    """Fixed number of flagship ops, cache cleared after each, each followed
    by a reference job. The first op in a fresh JVM pays code generation
    and worker start-up; the next ones let the JIT catch up. A fixed count
    keeps set-up comparable. Returns the op times and the last reference
    job's time, which serves as the first timed op's preceding reference."""
    from workloads import flagship_op

    times = []
    for _ in range(WARMUP_OPS):
        dt, _ = timed(lambda: flagship_op(corpus, cfg))
        settle(spark)
        times.append(dt)
        ref = reference(spark, cores)
    return times, ref


def plain_op(spark, corpus, cfg, run: Run, tracer=None, op: int = 0):
    """One flagship op, its output checked and its leaks counted outside
    the timing. Returns (seconds, check, leaked), or None if the op
    raised."""
    from workloads import check_flagship, flagship_op

    base = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    try:
        if tracer is None:
            dt, res = timed(lambda: flagship_op(corpus, cfg))
        else:
            with tracer.span("dedup", op) as span:
                res = flagship_op(corpus, cfg)
            dt = span.wall_s
        chk = check_flagship(corpus, res.pairs, res.assignments)
        run.record(chk.ok, chk.note)
        del res
        return dt, chk, settle(spark, base)
    except Exception as e:  # an op that raises counts as failed
        run.record(False, f"{type(e).__name__}: {e}"[:200])
        settle(spark)
        return None


def layered_op(spark, corpus, cfg, run: Run, tracer, op: int, counts: dict):
    """The flagship composed layer by layer; returns its traced seconds.
    The caller settles once the layer outputs are out of scope."""
    from workloads import check_flagship, layered_flagship_op

    try:
        out = layered_flagship_op(corpus, cfg, tracer, op)
        chk = check_flagship(corpus, out["pairs"], out["assignments"])
        run.record(chk.ok, chk.note)
        counts.update(out["counts"])
        return sum(s.wall_s for s in tracer.spans if s.op == op and s.layer in LAYERS)
    except Exception as e:
        run.record(False, f"{type(e).__name__}: {e}"[:200])
        return None


def untraced(spark, corpus, cfg, cores: int, ref0: float, args, run: Run,
             report: dict) -> dict:
    """Flagship ops for ``--seconds`` (at least MIN_OPS), each between two
    reference jobs. An op's relative time is its seconds over the mean of
    the two reference jobs around it, so a host that runs slower or faster
    for a while moves both alike."""
    times, refs, rel, recalls, leaks, cross = [], [ref0], [], [], [], []
    start = time.perf_counter()
    while True:
        r = plain_op(spark, corpus, cfg, run)
        refs.append(reference(spark, cores))
        if r is not None:
            times.append(r[0])
            rel.append(r[0] / ((refs[-2] + refs[-1]) / 2))
            recalls.append(r[1].recall)
            leaks.append(r[2])
            cross.append(r[1].cross_pairs)
        spent = time.perf_counter() - start
        if run.attempted >= MIN_OPS and spent + (times[-1] if times else 0) > args.seconds:
            break
    if not times:
        raise RuntimeError("no op completed")
    p50 = statistics.median(rel)
    report["op_times_s"] = [round(t, 4) for t in times]
    report["ref_times_s"] = [round(t, 4) for t in refs]
    report["op_rel"] = [round(t, 4) for t in rel]
    report["op_p50_s"] = statistics.median(times)
    report["pages_per_s"] = corpus.n_pages / report["op_p50_s"]
    report["ref_p50_s"] = statistics.median(refs)
    report["leaked_persists"] = leaks
    report["cross_cluster_pairs"] = cross[0]
    return {
        "op_p50_rel": p50,
        "pages_per_ref": corpus.n_pages / p50,
        "dup_pair_recall": min(recalls),
        "ok_ops_ratio": (run.attempted - run.failed) / run.attempted,
    }


def traced(spark, corpus, wl, cfg, args, run: Run, report: dict, work: str):
    """Plain ops (the dedup.* figures) alternating with layered ops (the
    flagship's layers) for ``--seconds``, so JIT drift hits both alike;
    then the layers the flagship does not reach. Returns the tracer and
    the counts."""
    from tracing import Tracer
    from workloads import corpus_passes, stream_epoch

    tracer = Tracer(spark)
    counts: dict[str, float] = {}
    plain, layered, leaks = [], [], []
    expected = None  # dedup_pages's assignments, for the stream epoch
    start, op = time.perf_counter(), 0
    while True:
        r = plain_op(spark, corpus, cfg, run, tracer, op)
        if r is not None:
            plain.append(r[0])
            leaks.append(r[2])
            if expected is None and r[1].ok:
                expected = r[1].assignments
        t = layered_op(spark, corpus, cfg, run, tracer, op, counts)
        settle(spark)
        if t is not None:
            layered.append(t)
        op += 1
        spent = time.perf_counter() - start
        if spent + (plain[-1] if plain else 0) * 2 > args.seconds:
            break
    if leaks:
        counts["dedup.leaked_persists"] = statistics.median(leaks)
    if plain and layered:
        counts["dedup.trace_overhead_s"] = statistics.median(layered) - statistics.median(plain)
    report["plain_op_times_s"] = [round(t, 4) for t in plain]
    report["layered_op_times_s"] = [round(t, 4) for t in layered]

    if wl.corpus_passes:
        # the first call warms the passes' code paths, the second is traced
        for i, tr in enumerate((Tracer(spark), tracer)):
            base = quiesce(spark)
            ok, c, note = corpus_passes(corpus, tr, 0)
            leaked = settle(spark, base)
            if i:
                run.record(ok, note)
                counts.update(c)
                counts["dedup_exact.leaked_persists"] = leaked
    if wl.stream_batches and expected is None:
        run.record(False, "no checked dedup_pages result to compare the stream with")
    elif wl.stream_batches:
        ok, c, note = stream_epoch(spark, corpus, wl, cfg, tracer, 0,
                                   os.path.join(work, "state"), expected)
        settle(spark)
        run.record(ok, note)
        counts.update(c)
    return tracer, counts


def per_layer_metrics(tracer, counts: dict, log_dir: str, cores: int,
                      corpus, session_s: float) -> dict[str, float]:
    from tracing import layer_stat, read_event_log

    log = read_event_log(log_dir)

    def st(layer, key):
        return layer_stat(tracer, log, layer, key)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    for layer in ("signatures", "lsh", "verify", "components"):
        for key in ("wall_s", "jobs", "executor_s", "shuffle_mb"):
            if f"{layer}.{key}" in m:
                m[f"{layer}.{key}"] = st(layer, key)
    m["signatures.text_mb"] = corpus.text_mb
    m["dedup.assign_wall_s"] = st("assign", "wall_s")
    m["dedup.jobs"] = st("dedup", "jobs")
    m["dedup.stages"] = st("dedup", "stages")
    m["dedup.spill_mb"] = st("dedup", "spill_mb")
    m["dedup.gc_s"] = st("dedup", "gc_s")
    if tracer.by_layer("stream_batch"):
        m["stream_classify.batch_wall_s"] = st("stream_batch", "wall_s")
        m["stream_classify.batch_jobs"] = st("stream_batch", "jobs")
        m["stream_classify.batch_executor_s"] = st("stream_batch", "executor_s")
        m["stream_classify.busy_share"] = statistics.median(
            log.get(s.group, {}).get("executor_s", 0.0) / (s.wall_s * cores)
            for s in tracer.by_layer("stream_batch")
        )
        m["stream_classify.compact_wall_s"] = st("stream_compact", "wall_s")
        m["stream_classify.compact_jobs"] = st("stream_compact", "jobs")
        m["stream_classify.compact_executor_s"] = st("stream_compact", "executor_s")
    if tracer.by_layer("simhash"):
        m["dedup_exact.exact_wall_s"] = st("exact", "wall_s")
        for p in ("simhash", "ngram"):
            m[f"dedup_exact.{p}_wall_s"] = st(p, "wall_s")
            m[f"dedup_exact.{p}_jobs"] = st(p, "jobs")
            m[f"dedup_exact.{p}_shuffle_mb"] = st(p, "shuffle_mb")
        m["span_dedup.wall_s"] = st("spans", "wall_s")
        m["span_dedup.jobs"] = st("spans", "jobs")
        m["span_dedup.shuffle_mb"] = st("spans", "shuffle_mb")
    for k, v in counts.items():
        m[k] = v
    return {k: float(v) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "rkmh_spark", "__init__.py")):
        print("perfbench: no rkmh_spark package next to the benchmark; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Corpus

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    report: dict = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "spark_cores": cores,
        "loadavg_start": os.getloadavg()[0],
    }
    steal0 = steal_ticks()
    run = Run()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        cfg = wl.config
        corpus = Corpus(spark, wl, args.seed, work)
        warm, ref0 = warm_up(spark, corpus, cfg, cores)
        setup_s = time.perf_counter() - t0
        report.update(pages=corpus.n_pages, text_mb=round(corpus.text_mb, 3),
                      truth_pairs=len(corpus.truth), session_s=round(session_s, 3),
                      warmup_op_times_s=[round(t, 4) for t in warm])
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if args.trace:
            tracer, counts = traced(spark, corpus, wl, cfg, args, run, report, work)
        else:
            metrics = untraced(spark, corpus, cfg, cores, ref0, args, run, report)
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        stop_session(spark)
        spark = None
        if args.trace:
            metrics = per_layer_metrics(tracer, counts, os.path.join(work, "events"),
                                        cores, corpus, session_s)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    report["steal_s"] = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    if run.notes:
        report["failures"] = run.notes
    units = PER_LAYER if args.trace else END_TO_END
    correct = run.failed == 0 and run.attempted > 0
    if not args.trace:
        correct = correct and metrics["dup_pair_recall"] >= 0.99
    n_ops = len(report.get("op_times_s", []))
    samples = {"op_p50_rel": n_ops, "setup_s": 1}
    for k, unit in units.items():
        n = f"n={samples[k]}" if k in samples else ""
        print(f"{wl.name:16s} {k:36s} {metrics[k]:14.6g} {unit:9s} {n}")
    if not args.trace:
        # raw times, for reading; the host's speed moves them, so they are
        # not among the metrics
        for k, unit, n in (("op_p50_s", "s", n_ops), ("pages_per_s", "pages/s", 0),
                           ("ref_p50_s", "s", n_ops + 1)):
            n = f"n={n}" if n else ""
            print(f"{wl.name:16s} {k:36s} {report[k]:14.6g} {unit:9s} {n} (raw)")
    print("# " + json.dumps(report))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
