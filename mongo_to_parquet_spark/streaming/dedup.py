"""Streaming incremental dedup: the daily-crawl pipeline as a stream.

Each micro-batch of new documents is near-dup-checked against everything
seen so far through the persisted banded MinHash index
(operators/dedup.minhash_index — see its docstring and SCALE.md
"incremental dedup index" for the batch-side design), then its own index
rows are appended. Cumulative emitted pairs equal the corpus-wide
``q_dedup_minhash_md5`` answer: a pair is emitted exactly when its
later-arriving member's batch runs (via the index probe), or in its
shared batch (via the delta self-join) — never twice, never missed.
That equivalence is pinned by tests/test_streaming.py against the batch
pipeline's output on the same documents.

State layout is APPEND-ONLY — per-batch subdirectories plus a ledger of
commit markers — unlike stream_multi_sketch's whole-state swap, because
here the state grows with the corpus and an O(corpus) rewrite per batch
would defeat the incremental point:

    state_dir/
      index/batch=<id>/   banded signature rows of that batch's docs
      docs/batch=<id>/    (doc_id, text) of that batch — the verify side
      pairs/batch=<id>/   pairs emitted by that batch
      ledger/<id>         commit marker

Exactly-once: the ledger commit of streaming/state.start_ledger_stream —
a torn batch is rewritten deterministically from the same committed
prefix (markerless dirs are invisible to readers and to the "seen so
far" reconstruction).

At 100 TB the ``docs/`` mirror would be replaced by the lake's own
document table (text is only ever read semi-join-pruned to candidate
docs); it is stored here so the state directory is self-contained.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mongo_to_parquet_spark.operators.dedup import (
    minhash_incremental_pairs,
    minhash_index,
)
from mongo_to_parquet_spark.streaming import state as st

_INDEX_SCHEMA = "doc bigint, band bigint, sigstr string"
_PAIRS_SCHEMA = "id1 bigint, id2 bigint, jaccard double"
_DOCS_SCHEMA = "doc_id bigint, text string"


def stream_dedup_incremental(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Run the incremental dedup fold over a document stream.

    ``compact_every=N`` folds the ledger-committed compaction into the
    stream itself: whenever N per-batch ledger markers have accumulated,
    the fold compacts+vacuums them AFTER committing its own batch — so
    the state's directory count is bounded by N at any ingest age
    without an external maintenance job. Safe mid-stream: compaction
    only ever covers committed batches, and the next batch reads
    through the watermark.

    Returns the started streaming query (availableNow trigger — drains
    what exists, then stops; a production run would use a steady
    trigger with the identical fold).
    """
    spark = docs_stream.sparkSession

    def body(batch_df: DataFrame, bid: int) -> None:
        batch = batch_df.select(id_col, text_col)
        # committed prior state resolves through the compaction watermark
        # (streaming/state.py): compacted(W) + per-batch dirs above W —
        # O(1) + O(batches since last compaction) listings, not O(age)
        index = st.read_sub(spark, state_dir, "index", _INDEX_SCHEMA, below=bid)
        corpus = st.read_sub(
            spark,
            state_dir,
            "docs",
            f"{id_col} bigint, {text_col} string",
            below=bid,
        ).unionByName(batch)
        pairs = minhash_incremental_pairs(
            batch, index, corpus, threshold, text_col, id_col
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairs", f"batch={bid}")
        )
        minhash_index(batch, text_col, id_col).write.mode("overwrite").parquet(
            os.path.join(state_dir, "index", f"batch={bid}")
        )
        batch.write.mode("overwrite").parquet(
            os.path.join(state_dir, "docs", f"batch={bid}")
        )

    def compact_when_due() -> None:
        if compact_every and len(st.ledger_ids(state_dir)) >= compact_every:
            compact_dedup_state(spark, state_dir)

    return st.start_ledger_stream(
        docs_stream, state_dir, checkpoint_dir, body, after_commit=compact_when_due
    )


def read_incremental_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All pairs emitted by COMMITTED batches (the exactly-once view)."""
    return st.read_sub(spark, state_dir, "pairs", _PAIRS_SCHEMA)


def compact_dedup_state(
    spark: SparkSession,
    state_dir: str,
    upto: int | None = None,
    run_vacuum: bool = True,
) -> int | None:
    """Ledger-committed compaction of the three append-only sub-states
    (round-8 verdict #2): merge per-batch index/docs/pairs dirs at or
    below the watermark into one compacted dir each (marker renamed
    LAST — torn compactions are invisible), then optionally vacuum what
    the watermark supersedes. Cumulative pairs are row-identical before
    and after; file count stops growing with ingest age. Returns the new
    watermark (None if nothing new to cover)."""
    w = st.compact(
        spark,
        state_dir,
        {"index": _INDEX_SCHEMA, "docs": _DOCS_SCHEMA, "pairs": _PAIRS_SCHEMA},
        upto=upto,
    )
    if run_vacuum:
        st.vacuum(state_dir, ["index", "docs", "pairs"])
    return w
