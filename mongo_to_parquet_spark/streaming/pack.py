"""Streaming greedy sequence packing: the online half of q_pack_greedy
(queries/llm.py) — documents trickle in (the crawl-append shape: doc_id
monotone per shard across batches) and each micro-batch extends the
per-shard open bin exactly where the previous batch left it, so the
union of streamed assignments is bit-identical to running the batch
packer over everything that has arrived (pinned in
tests/test_streaming.py).

State per shard is TWO integers — (open_bin, fill) of the currently
filling bin — carried between batches as a tiny per-batch parquet swap
(``state/batch=<id>``, only the newest committed one kept) next to the
per-batch assignment reports, all under the ledger commit of
streaming/state.start_ledger_stream.

At 100 TB/day ingest: the state table is n_shards rows (broadcast), the
per-batch cost is one shuffle by shard into the Arrow grouped-map pass —
the batch packer's own plan, applied to the delta only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.operators.text import greedy_bins
from mongo_to_parquet_spark.streaming import state as st

_ASSIGN_COLS = ["shard", "doc_id", "n_tok", "bin_id"]
PACKED_SCHEMA = (
    "shard bigint, doc_id bigint, n_tok bigint, bin_id bigint,"
    " open_bin bigint, fill bigint"
)
_STATE_SCHEMA = "shard bigint, open_bin bigint, fill bigint"


def pack_batch(
    docs: DataFrame, state_dir: str, bid: int, pack_l: int
) -> None:
    """Greedy-pack one batch's (doc_id, shard, n_tok) rows, each shard
    extending the (open_bin, fill) the newest committed batch before
    ``bid`` left; writes ``reports/batch=<bid>`` (assignments plus the
    post-batch state on every row) and ``state/batch=<bid>`` (the new
    fills, with untouched shards carried over)."""
    spark = docs.sparkSession
    fills = st.read_latest(spark, state_dir, "state", _STATE_SCHEMA, below=bid)
    joined = docs.join(F.broadcast(fills), "shard", "left")

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        carry = (0, 0)
        if pdf["open_bin"].notna().any():
            carry = (int(pdf["open_bin"].iloc[0]), int(pdf["fill"].iloc[0]))
        bins, (b, fill) = greedy_bins(pdf["n_tok"], pack_l, carry)
        out = pdf[["shard", "doc_id", "n_tok"]].copy()
        out["bin_id"] = bins
        # the shard's post-batch state rides every row; readers project
        # it off, the state write below distincts it
        out["open_bin"] = b
        out["fill"] = fill
        return out

    packed_path = os.path.join(state_dir, "reports", f"batch={bid}")
    joined.groupBy("shard").applyInPandas(pack, PACKED_SCHEMA).write.mode(
        "overwrite"
    ).parquet(packed_path)
    batch_state = (
        spark.read.parquet(packed_path).select("shard", "open_bin", "fill").distinct()
    )
    carried = fills.join(batch_state.select("shard"), "shard", "left_anti")
    batch_state.unionByName(carried).write.mode("overwrite").parquet(
        os.path.join(state_dir, "state", f"batch={bid}")
    )


def stream_pack(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    pack_l: int = 128,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Pack a document stream into L-token training bins, shard-parallel.

    Returns the started streaming query (availableNow trigger — drains
    what exists, then stops)."""

    def body(batch_df: DataFrame, bid: int) -> None:
        docs = batch_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            (F.col(id_col) % n_shards).cast("long").alias("shard"),
            F.size(F.filter(F.split(text_col, " "), lambda x: x != ""))
            .cast("long")
            .alias("n_tok"),
        ).filter(F.col("n_tok") > 0)
        pack_batch(docs, state_dir, bid, pack_l)

    # reports/ stay: read_assignments reads every committed batch
    return st.start_ledger_stream(
        docs_stream,
        state_dir,
        checkpoint_dir,
        body,
        after_commit=lambda: st.vacuum(state_dir, [], swap_subs=["state"]),
    )


def read_assignments(spark: SparkSession, state_dir: str) -> DataFrame:
    """All bin assignments from COMMITTED batches (the exactly-once view)."""
    return st.read_sub(spark, state_dir, "reports", PACKED_SCHEMA).select(
        *_ASSIGN_COLS
    )
