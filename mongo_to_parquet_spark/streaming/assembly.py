"""Streaming END-TO-END training-data assembly: the nightly
q_assembly_pipeline (queries/llm.py) as one continuous ingest — gate →
incremental exact dedup → decontaminate → greedy pack, all four stages
inside a SINGLE foreachBatch fold under a SINGLE exactly-once ledger
(round-7 verdict #2; the stages also stream individually in
streaming/{dedup,decontaminate,pack}.py).

Equivalence contract (pinned in tests/test_streaming.py): under the
crawl-append arrival shape — doc_id MONOTONE across batches, the
stream_pack contract strengthened to global monotonicity because the
dedup keeper is the GLOBAL min doc_id per text — the union of committed
bin assignments is bit-identical to q_assembly_pipeline over everything
that has arrived. The eval split is a FIXED artifact (the
stream_decontaminate convention): its gram table is materialized once up
front (decontaminate.eval_gram_table), because retroactive contamination
from late-arriving eval docs would invalidate already-packed bins — the
batch key's eval split (doc_id % 97) must therefore be known at ingest
start, which is exactly how benchmark suites ship in practice.

Per batch: gate (eval split out, n_tok ≥ min_tok) → drop docs whose
text hash is in the committed hash state, keep the min-doc_id copy of
each new text → drop docs sharing a 5-gram with the broadcast eval
table → extend each shard's open bin exactly where the previous batch
left it (two-integer pack state). State layout mixes the two proven
patterns: append-only ``hashes/batch=<id>`` (corpus-growing, the
stream_dedup_incremental shape) + per-batch ``state/batch=<id>`` swap
for the shard fills (bounded, the stream_pack shape, written by
pack.pack_batch), all under the ledger commit of
streaming/state.start_ledger_stream; the marker also carries the running
``max_doc_id``.

At 100 TB/day: per-batch cost = one hash anti-join against the seen-text
state (hash-only rows — text never enters the state), one broadcast gram
screen (eval tables are megabytes), one shuffle by shard into the Arrow
pack pass — the batch pipeline's own plan applied to the delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions.textfns import shingles
from mongo_to_parquet_spark.streaming import state as st
from mongo_to_parquet_spark.streaming.pack import (
    PACKED_SCHEMA,
    pack_batch,
    read_assignments,  # the committed-reports view is the same as stream_pack's
)

_HASH_SCHEMA = "h string"


def stream_assembly(
    docs_stream: DataFrame,
    eval_grams_path: str,
    state_dir: str,
    checkpoint_dir: str,
    pack_l: int = 128,
    n_shards: int = 8,
    min_tok: int = 5,
    eval_mod: int = 97,
    gram_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Assemble a document stream into packed training bins, end to end.

    ``eval_grams_path`` must hold the (eid, g) artifact built by
    ``decontaminate.eval_gram_table`` over the eval split. Returns the
    started streaming query (availableNow trigger)."""
    spark = docs_stream.sparkSession

    def body(batch_df: DataFrame, bid: int) -> dict:
        # the monotone-arrival CONTRACT, enforced (round-8 verdict #7):
        # the dedup keeper is the GLOBAL min doc_id per text, which the
        # incremental fold can only honor if ids never go backwards
        # across batches. A violation must fail LOUDLY here — quietly
        # keeping the earlier-committed (larger-id) copy would silently
        # diverge from the batch pipeline. The running max rides the
        # ledger markers (and survives vacuum via the compaction marker).
        bounds = batch_df.agg(
            F.min(F.col(id_col).cast("long")).alias("mn"),
            F.max(F.col(id_col).cast("long")).alias("mx"),
        ).collect()[0]
        prev_max = st.marker_field(state_dir, "max_doc_id")
        if (
            prev_max is not None
            and bounds["mn"] is not None
            and bounds["mn"] <= prev_max
        ):
            raise ValueError(
                f"non-monotone arrival: batch {bid} carries {id_col}="
                f"{bounds['mn']} <= committed max {prev_max}; "
                f"stream_assembly requires doc ids monotone across batches"
            )
        # stage 1 — gate: eval split held out, minimum token count
        tok = batch_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
            F.size(F.filter(F.split(text_col, " "), lambda x: x != ""))
            .cast("long")
            .alias("n_tok"),
        )
        gated = tok.filter(
            (F.col("doc_id") % eval_mod != 0) & (F.col("n_tok") >= min_tok)
        ).withColumn("h", F.sha2("text", 256))
        # stage 2 — incremental exact dedup: texts seen in a committed
        # batch drop entirely; within the batch the min-doc_id copy wins
        # (= the global min under the monotone-arrival contract). The
        # seen-hash state resolves through the compaction watermark
        # (streaming/state.py) — compacted(W) + per-batch dirs above W,
        # so the listing cost stops growing with ingest age.
        seen = st.read_sub(spark, state_dir, "hashes", _HASH_SCHEMA, below=bid)
        fresh = gated.join(seen, "h", "left_anti")
        keep = fresh.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
        newdocs = fresh.join(keep.select("doc_id"), "doc_id", "left_semi")
        # stage 3 — decontaminate against the static eval gram artifact
        evg = F.broadcast(
            spark.read.parquet(eval_grams_path).select("g").distinct()
        )
        cont = (
            newdocs.select(
                "doc_id", F.explode(shingles(F.col("text"), gram_n)).alias("g")
            )
            .join(evg, "g")
            .select("doc_id")
            .distinct()
        )
        surv = newdocs.join(cont, "doc_id", "left_anti").select(
            "doc_id",
            (F.col("doc_id") % n_shards).cast("long").alias("shard"),
            "n_tok",
        )
        # stage 4 — greedy pack, per-shard open bin carried across batches
        # (swap-style state: only the newest committed batch's fills matter)
        pack_batch(surv, state_dir, bid, pack_l)
        fresh.select("h").distinct().write.mode("overwrite").parquet(
            os.path.join(state_dir, "hashes", f"batch={bid}")
        )
        return {"max_doc_id": bounds["mx"] if bounds["mx"] is not None else prev_max}

    def compact_when_due() -> None:
        # in-stream maintenance: once compact_every markers accumulate,
        # fold them into the compacted dirs (committed batches only, so
        # this is safe at any point between batches)
        if compact_every and len(st.ledger_ids(state_dir)) >= compact_every:
            compact_assembly_state(spark, state_dir)

    return st.start_ledger_stream(
        docs_stream, state_dir, checkpoint_dir, body, after_commit=compact_when_due
    )


def compact_assembly_state(
    spark: SparkSession,
    state_dir: str,
    upto: int | None = None,
    run_vacuum: bool = True,
) -> int | None:
    """Ledger-committed compaction for the assembly fold (round-8
    verdict #2): the append-only hash and report sub-states merge into
    one compacted dir each at the watermark (marker renamed LAST), and
    vacuum also drops superseded per-batch fill states — the swap-style
    sub keeps only its newest committed version. The committed manifest
    is row-identical before and after; replay-skip stays sound because
    any batch id at or below the watermark is committed by
    construction."""
    carried = st.marker_field(state_dir, "max_doc_id")
    w = st.compact(
        spark,
        state_dir,
        {"hashes": _HASH_SCHEMA, "reports": PACKED_SCHEMA},
        upto=upto,
        extra={"max_doc_id": carried},
    )
    if run_vacuum:
        st.vacuum(state_dir, ["hashes", "reports"], swap_subs=["state"])
    return w


def read_manifest(spark: SparkSession, state_dir: str) -> DataFrame:
    """The committed per-(shard, bin) manifest — q_assembly_pipeline's
    output shape over everything ingested so far."""
    return (
        read_assignments(spark, state_dir)
        .groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
