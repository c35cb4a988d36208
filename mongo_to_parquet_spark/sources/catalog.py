"""Fixture catalog: the 10 test tables as DataFrames / temp views.

Generalizes the reference's catalog scans (``list_database_names`` /
``list_collection_names``, reference main.py:72-73,279-283) to a registry of
parquet-backed tables. All reads are plain ``spark.read.parquet`` so Catalyst
column pruning and filter pushdown reach the scan.

The one normalization: the fixtures store ``events.ts`` as parquet
TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``, which Spark reads as
``timestamp_ntz`` directly. A TIMESTAMP(NANOS) input, which Spark cannot
represent (TimestampType is µs), arrives as the raw int64
(``spark.sql.legacy.parquet.nanosAsLong``) and is floor-divided to µs —
bit-identical to DuckDB's ``CAST(ts AS TIMESTAMP)`` (see
tests/test_catalog.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.session import apply_runtime_confs

#: Every driver fixture table (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical column types."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs floor; timestamp_ntz so the value is timezone-independent
        # (session tz already pinned to UTC by apply_runtime_confs anyway).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def scratch_dir(store: str, sf_dir: str) -> str:
    """Where a key keeps what it writes for a corpus dir:
    ``_scratch/<store>/<basename of sf_dir>`` at the repo root, so a store
    built from one fixture never serves another."""
    return os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "_scratch", store,
            os.path.basename(sf_dir.rstrip("/")),
        )
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL surface)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
