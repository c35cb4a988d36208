"""Streaming mixture weights: the online half of q_mix_temperature
(queries/llm.py) — as the corpus grows batch by batch, the per-source
token counts fold into a tiny persisted state and the temperature-scaled
sampling table (mT5 τ=2, IEEE-exact SQRT + floor-div basis points) is
re-emitted after every batch, so the dataloader always reads weights
that reflect everything ingested so far.

Unlike stream_pack this fold is ORDER-INSENSITIVE (counts are a
commutative monoid), so any batch split converges to the batch key —
pinned in tests/test_streaming.py. State = |sources| rows of two
integers, swapped per batch under the ledger commit of
streaming/state.start_ledger_stream; after each commit the superseded
state and weights versions are vacuumed.

At 100 TB/day ingest: per-batch cost is one map-combined aggregate over
the delta plus a |sources|-row merge; the weights table a training job
polls is always one committed parquet read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.streaming import state as st

_STATE_SCHEMA = "source string, n_docs bigint, n_tokens bigint"
_WEIGHTS_SCHEMA = (
    "source string, n_docs bigint, n_tokens bigint, raw_bp bigint, temp_bp bigint"
)


def _weights(per: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens) → the q_mix_temperature output shape."""
    from pyspark.sql import Window as W

    tot = W.partitionBy()
    return (
        per.withColumn("rt", F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint"))
        .withColumn("tot_tok", F.sum("n_tokens").over(tot))
        .withColumn("tot_rt", F.sum("rt").over(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("div(n_tokens * 10000, tot_tok)").cast("bigint").alias("raw_bp"),
            F.expr("div(rt * 10000, tot_rt)").cast("bigint").alias("temp_bp"),
        )
    )


def stream_mix(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    source_col: str = "source",
    text_col: str = "text",
):
    """Fold a document stream into running per-source mixture weights.

    Returns the started streaming query (availableNow trigger — drains
    what exists, then stops)."""
    spark = docs_stream.sparkSession

    def body(batch_df: DataFrame, bid: int) -> None:
        delta = batch_df.groupBy(F.col(source_col).alias("source")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr(f"size(filter(split({text_col}, ' '), w -> w != ''))"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        prior = st.read_latest(spark, state_dir, "state", _STATE_SCHEMA, below=bid)
        merged = (
            prior.unionByName(delta)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
        )
        state_path = os.path.join(state_dir, "state", f"batch={bid}")
        merged.write.mode("overwrite").parquet(state_path)
        _weights(spark.read.parquet(state_path)).write.mode("overwrite").parquet(
            os.path.join(state_dir, "weights", f"batch={bid}")
        )

    return st.start_ledger_stream(
        docs_stream,
        state_dir,
        checkpoint_dir,
        body,
        after_commit=lambda: st.vacuum(state_dir, [], swap_subs=["state", "weights"]),
    )


def read_weights(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT committed weights table (last committed batch)."""
    return st.read_latest(spark, state_dir, "weights", _WEIGHTS_SCHEMA)
