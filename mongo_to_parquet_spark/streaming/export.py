"""Streaming partitioned-parquet export — the reference's job as a stream.

The reference (main.py:287-309) snapshots a collection and exports it
once; re-runs re-copy everything. The streaming version is the same
logical statement — the batch export's plan head (drop ``_id``, derive
``year``/``month``/``day`` with the ``year=unknown`` bucket) and a
hive-partitioned parquet write — run
incrementally under a checkpoint: each trigger exports only NEW source
data, restarts resume exactly-once from the checkpoint (no dupes, no
gaps; pinned in tests/test_streaming.py), and a crashed run replays its
uncommitted micro-batch. At 100 TB/day this is the difference between a
nightly full re-copy and a continuously caught-up export.

Only projections are involved — no state store; the checkpoint holds just
source offsets (which files / Kafka offsets are committed).

The upsert and CDC sinks below keep versioned tables in the version store
format of operators/incremental.py (``publish_version``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongo_to_parquet_spark.operators.incremental import (
    publish_version,
    read_agg_state,
    start_foreach_batch,
)
from mongo_to_parquet_spark.sources.export import _prepare_export


def stream_export_partitioned(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    date_field: str,
) -> StreamingQuery:
    """Incrementally export a stream as ``year=``-partitioned parquet:
    drains everything currently available and stops (the reference's
    batch-job shape, but incremental)."""
    enriched = _prepare_export(stream, date_field, None, None, ("_id",), None)
    return (
        enriched.writeStream.format("parquet")
        .partitionBy("year")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_merge_upsert(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_col: str,
) -> StreamingQuery:
    """Continuously maintained SCD-1 table: each micro-batch upserts into
    a persisted parquet state (latest row per key wins, ``seq_col``
    decides "latest" within and across batches).

    foreachBatch closes the gap between the streaming source and the
    batch merge operator (operators/merge.py): inside the hook the
    micro-batch is a plain DataFrame, so the same anti-join + union merge
    runs unchanged. The batch is first reduced to one row per key
    (max seq wins — ties broken by preferring the later row is NOT
    deterministic, so the reduction is an explicit max_by), and rows
    older than what the state already holds are dropped, making the sink
    idempotent under micro-batch replay: re-running a committed batch
    rewrites the same state.

    State versions are published by incremental.publish_version, so a
    reader never sees a half-written version. At 100 TB the state would
    live in a table format with real MERGE INTO (Delta/Iceberg); the
    operator shape — dedupe batch, anti-join state, union — is identical.
    """
    from mongo_to_parquet_spark.operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = batch_df.groupBy(*keys).agg(
            *[
                F.max_by(c, seq_col).alias(c)
                for c in batch_df.columns
                if c not in keys
            ]
        )
        state = read_agg_state(spark, state_dir)
        if state is not None:
            # replay guard: only rows strictly newer than the state win
            newer = latest.alias("u").join(
                state.select(*keys, F.col(seq_col).alias("__cur_seq")), keys, "left"
            ).filter(
                F.col("__cur_seq").isNull() | (F.col(seq_col) > F.col("__cur_seq"))
            ).drop("__cur_seq")
            merged = merge_upsert(state, newer.select(*state.columns), keys)
        else:
            merged = latest
        publish_version(state_dir, merged, {"batch_id": batch_id})

    return start_foreach_batch(stream, checkpoint_dir, apply_batch)


def stream_cdc_apply(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> StreamingQuery:
    """Continuously materialized CDC table: each micro-batch of I/U/D ops
    folds into a persisted latest-per-key state; deletes REMOVE keys
    (the case ``stream_merge_upsert`` cannot express).

    Semantics match the batch :func:`operators.merge.apply_cdc` over the
    full log (pinned in tests/test_streaming.py): per key the latest op
    by ``seq_cols`` wins across batches, and a key whose latest op is the
    delete op is absent from the state. Idempotent under micro-batch
    replay by construction — a replayed op's seq is ≤ the state's seq for
    its key, so it never regresses the state (same guard family as
    stream_merge_upsert; no batch-id bookkeeping needed because the state
    keeps the seq columns).

    State versions are published by incremental.publish_version: readers
    only see fully-written versions.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = [c for c in batch_df.columns if c not in keys]
        # collapse the batch: latest op per key, op column KEPT (a delete
        # that is the batch's last word must win)
        latest = batch_df.groupBy(*keys).agg(
            F.max_by(F.struct(*payload), F.struct(*seq_cols)).alias("__last")
        ).select(*keys, *[F.col(f"__last.{c}").alias(c) for c in payload])
        state = read_agg_state(spark, state_dir)
        if state is not None:
            cur_seq = state.select(
                *keys, *[F.col(c).alias(f"__cur_{c}") for c in seq_cols]
            )
            newer = (
                latest.join(cur_seq, keys, "left")
                .filter(
                    F.col(f"__cur_{seq_cols[0]}").isNull()
                    | (
                        F.struct(*seq_cols)
                        > F.struct(*[f"__cur_{c}" for c in seq_cols])
                    )
                )
                .drop(*[f"__cur_{c}" for c in seq_cols])
            )
            survivors = state.join(
                newer.select(*keys).distinct(), keys, "left_anti"
            )
            merged = survivors.unionByName(
                newer.filter(F.col(op_col) != delete_op).select(*state.columns)
            )
        else:
            merged = latest.filter(F.col(op_col) != delete_op)
        publish_version(state_dir, merged, {"batch_id": batch_id})

    return start_foreach_batch(stream, checkpoint_dir, apply_batch)
