"""Supplementary profiling bench (NOT the driver contract — see bench.py).

Replicates bench.py's methodology (same warmup, same noop sink, same
session config) but runs every headline query TWICE: the first run pays
the query's whole-stage-codegen/JIT compile of its unique operators, the
second measures steady-state execution. The delta isolates compile cost
from data-path cost (guide §1: decide whether time goes to compute or
overhead before optimizing). The Spark cache is cleared before each
query and again between its two runs, so a relation the cold run left
persisted cannot serve the warm run.

Usage: python bench_extra.py [query ...]   (default: bench.py's headline set)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "dedup_assignments",
    "minhash_signatures",
    "exact_dup_groups",
    "token_docfreq",
    "ngram_jaccard_pairs",
    "simhash_bands",
    "embedding_topk",
    "pricing_summary",
    "brand_revenue",
    "rolling_avg",
    "top_orders_per_customer",
    "variant_calls",
    "min_occ_signatures",
    "quality_filter",
    "lm_score",
    "dup_spans",
]


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:] or HEADLINE

    import __spark_entry__ as entry
    from rkmh_spark.session import get_spark

    spark = get_spark(app_name="rkmh_spark_bench_extra", cores=cpus)
    qfns = entry.queries()

    _run(qfns["pricing_summary"](spark, "/root/testdata/sf0.001"))
    _run(qfns["dedup_assignments"](spark, "/root/testdata/sf0.001"))

    out: dict[str, dict[str, float]] = {}
    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{name} cold")
        t0 = time.perf_counter()
        _run(qfns[name](spark, sf_dir))
        cold = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{name} warm")
        t0 = time.perf_counter()
        _run(qfns[name](spark, sf_dir))
        warm = round(time.perf_counter() - t0, 3)
        out[name] = {
            "cold": cold,
            "warm": warm,
            "compile_est": round(cold - warm, 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"all": out}))
    spark.stop()


if __name__ == "__main__":
    main()
