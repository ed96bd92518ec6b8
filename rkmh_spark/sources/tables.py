"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Kept trivial on purpose: ``spark.read.parquet`` gives Catalyst the native
parquet scan (column pruning + predicate pushdown); nothing to hand-roll.
At production scale the same call targets an Iceberg table
(``spark.read.table``) — see rkmh_spark.plans.checkpoint for the
format-switchable writer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

