"""SparkSession builder with the engine's physical-execution defaults.

Configuration heritage from the reference (see BASELINE.md):
  - zstd parquet compression            (reference main.py:23,208)
  - 4M max rows per output file         (reference main.py:225-228 file roll)
  - hive-style ``year=`` partitioning is applied at the sink (sources/export.py)

Everything else is Spark-first: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for any Python exchange, UTC
session time so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and necessary) to set on an *existing* session at
#: runtime — applied by the catalog so driver-owned sessions behave too.
RUNTIME_CONFS: dict[str, str] = {
    # the fixtures' events.ts is TIMESTAMP(MICROS); a TIMESTAMP(NANOS)
    # input has no Spark type, so read its raw int64 and convert to µs in
    # the catalog (matches DuckDB's CAST(ts AS TIMESTAMP) truncation —
    # verified in tests).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # hive partition values stay strings: the reference's `year=` column is
    # a string that can hold both "2020" and "unknown" (main.py:110-117)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def builder_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Session-builder confs for a fresh engine session."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    confs = {
        # --- adaptive execution: let Spark re-plan at shuffle boundaries ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing: ~1 partition per core locally; a real cluster
        # run would size this to total cores × 2-3 (see SCALE.md) ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # --- local-mode heap: the driver JVM hosts all executor threads in
        # local mode, and Spark's 1g default starves 32 concurrent tasks'
        # sort/join buffers long before spill kicks in. Only read at JVM
        # launch; a cluster deployment sizes executors instead. ---
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # --- sink heritage from the reference (BASELINE.md) ---
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.files.maxRecordsPerFile": "4000000",
        # --- Python exchange is always Arrow-batched, never row-at-a-time ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # dynamic partition overwrite: re-running an export replaces only the
        # partitions it produces (the reference appends blindly)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    confs.update(RUNTIME_CONFS)
    return confs


def apply_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply of runtime-settable confs on a session we don't own."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — caller falls back per-read


def get_spark(
    app_name: str = "mongo-to-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — tests and bench run single-node, but no
    engine code assumes local mode.
    """
    b = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if master:
        b = b.master(master)
    for k, v in builder_confs(shuffle_partitions).items():
        b = b.config(k, v)
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
