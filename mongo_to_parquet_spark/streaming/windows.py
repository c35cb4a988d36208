"""Structured Streaming surface (SURVEY §2.3 streaming rows).

The batch window queries in queries/stream.py ARE the streaming operators —
Spark incrementalizes the same logical plan under ``readStream``. This
module wires that up:

  - ``replay_events``: re-emit the events fixture as a file stream (the
    driver's parquet is bounded, so a file-source replay is the faithful
    stand-in for a live source).
  - ``tumbling_counts`` / ``sessionized``: the same groupBy-window plans,
    with watermarks for state eviction.
  - ``dedup_within_watermark``: streaming exact-dedup with bounded state.
  - ``run_to_completion``: drive a bounded stream with ``foreachBatch`` /
    ``processAllAvailable`` and hand back the accumulated result for parity
    tests against the batch answers (tests/test_streaming.py).

Scale notes: state store size is bounded by (watermark horizon ×
key cardinality); session windows merge in the state store
(``session_window`` is the built-in, not a custom stateful op). At 100 TB/day
the same plans run with a real source (Kafka) — nothing here is
file-source-specific except ``replay_events``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.session import apply_runtime_confs
from mongo_to_parquet_spark.sources.catalog import scratch_dir


def replay_events(spark: SparkSession, sf_dir: str, n_files: int = 8) -> DataFrame:
    """events fixture as an unbounded-style stream, one file per micro-batch.

    The file source needs a directory, so the fixture is materialized once
    into ``_scratch/stream_replay/<sf>`` as ``n_files`` TIME-ORDERED slices
    written sequentially (the file source consumes oldest-mtime first) —
    micro-batches then arrive in event-time order like a real stream, which
    is what session-window merging and watermark advancement assume.
    """
    import time

    from pyspark.sql import Window

    apply_runtime_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    replay_dir = scratch_dir("stream_replay", sf_dir)
    if not os.path.isdir(replay_dir):
        sliced = batch.withColumn(
            "__slice", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
        )
        for i in range(1, n_files + 1):
            (
                sliced.filter(F.col("__slice") == i)
                .drop("__slice")
                .coalesce(1)
                .write.mode("append")
                .parquet(replay_dir)
            )
            time.sleep(0.05)  # distinct mtimes → deterministic arrival order
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    # Watermarks require TimestampType (TIMESTAMP_LTZ). Depending on the
    # Spark build, the nanos-typed fixture column arrives as int64
    # (legacy nanosAsLong) or TIMESTAMP_NTZ — normalize either to LTZ;
    # session tz is pinned UTC, so the wall-clock value is unchanged.
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling count+sum per event_type with late-data eviction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_val"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_val",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4 windows).

    State cost vs tumbling is exactly the overlap factor (4×) — the knob a
    100 TB/day stream tunes by widening the slide.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_val"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"), "cnt", "sum_val"
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """session_window in streaming mode — sessions merge in the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )


def window_topk(
    events: DataFrame, k: int = 3, watermark: str = "2 hours"
) -> DataFrame:
    """Per-hour top-k event types by count — CHAINED stateful aggregation.

    Two streaming aggregations in one query (Spark's multi-stateful-
    operator support): the per-(window, type) count feeds a second
    aggregation keyed on ``window_time`` of the first window, which keeps
    only the k heaviest types per window (count desc, type asc tiebreak)
    via a sorted-struct slice — so the top-k selection is itself
    incrementalized in the state store, not a foreachBatch afterthought.

    Scale: state is (windows in watermark horizon) x (type cardinality)
    fixed-width rows for stage 1 and k structs per open window for stage
    2 — both bounded; no per-event retention anywhere. The same plan
    shape gives streaming heavy-hitters for any keyed census.
    """
    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = (
        counts.groupBy(F.window(F.window_time("w"), "1 hour").alias("w2"))
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("cnt")).alias("neg"), "event_type"))
                ),
                1,
                k,
            ).alias("top")
        )
        .select(
            F.unix_timestamp(F.col("w2.start")).alias("bucket_start"),
            F.posexplode("top").alias("pos", "t"),
        )
    )
    return ranked.select(
        "bucket_start",
        (F.col("pos") + 1).alias("rank"),
        F.col("t.event_type").alias("event_type"),
        (-F.col("t.neg")).cast("bigint").alias("cnt"),
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state (late dupes
    beyond the watermark are dropped rather than tracked forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_completion(
    streaming_df: DataFrame, mode: str = "append", timeout_s: int = 300
) -> list:
    """Drive a bounded stream to exhaustion; return all emitted rows.

    foreachBatch accumulates micro-batch outputs; ``processAllAvailable``
    blocks until the file source is drained — then one final empty-batch
    pass flushes watermark-closed windows.
    """
    batches: list[list] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batches.append(batch_df.collect())

    q = (
        streaming_df.writeStream.outputMode(mode)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    q.stop()
    if mode == "complete":
        # each micro-batch emits the full snapshot; only the last one is
        # the final answer
        return batches[-1] if batches else []
    return [r for b in batches for r in b]
