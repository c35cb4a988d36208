"""Streaming ANN serving: probe vectors arrive as a stream, each
micro-batch is answered against a STATIC IVF×PQ layout
(operators/similarity.build_ivfpq_layout) — the online half of the
build → append → probe story.

Why foreachBatch and not a stream-static join: an ANN probe is not a
row-to-row equi-join — it needs per-probe cell pruning (a top-n_probe
rank over the centroid table), a per-probe ADC lookup table, and a
per-probe top-k — so each micro-batch runs the BATCH serving plan
(operators/similarity.ivfpq_topk_batch_from_layout: probe-side relations
broadcast, ONE partition-pruned scan of the code table shared by the
whole batch). Per-probe results are integer-exact and identical to the
single-probe path — pinned in tests/test_streaming.py.

Exactly-once: per-batch result directories under the ledger commit of
streaming/state.start_ledger_stream — a torn batch is recommitted
identically because the layout is static, so a batch's answer is a pure
function of its probes.

At 100 TB: the layout's code table is the only corpus-sized artifact
and each batch reads n_probe·|batch| cells of it at most (deduped to
the distinct-cell union); probe-side state is |batch|-sized. Latency is
dominated by the pruned scan — the same bound as the batch serving
path, measured by bench.py's q_sim_topk_ivfpq_serve.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mongo_to_parquet_spark.operators.similarity import (
    ivfpq_topk_batch_from_layout,
    ivfpq_topk_batch_refined_from_layout,
)
from mongo_to_parquet_spark.streaming import state as st

_RESULT_SCHEMA = "probe_id bigint, vec_id bigint, pq_dist bigint, rk bigint"


def stream_ann_probe(
    probes_stream: DataFrame,
    layout_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_emb: DataFrame | None = None,
    shortlist: int = 50,
):
    """Answer a probe-vector stream against a static IVF×PQ layout.

    With ``refine_emb`` (the fp32 vector table), each batch runs the
    TWO-STAGE plan instead — ADC shortlist → exact re-rank of only the
    shortlist union (operators/similarity.ivfpq_topk_batch_refined_
    from_layout) — and results carry exact ``sim`` instead of
    ``pq_dist``. Per-probe equality with the batch/single refine paths
    is pinned in tests.

    Returns the started streaming query (availableNow trigger — drains
    what exists, then stops; a production run would use a steady trigger
    with the identical fold)."""
    spark = probes_stream.sparkSession

    def body(batch_df: DataFrame, bid: int) -> None:
        if refine_emb is not None:
            out = ivfpq_topk_batch_refined_from_layout(
                spark, layout_dir, batch_df, refine_emb, k=k,
                shortlist=shortlist, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            out = ivfpq_topk_batch_from_layout(
                spark, layout_dir, batch_df, k=k, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col,
            )
        out.write.mode("overwrite").parquet(
            os.path.join(state_dir, "results", f"batch={bid}")
        )

    return st.start_ledger_stream(probes_stream, state_dir, checkpoint_dir, body)


def read_probe_results(spark: SparkSession, state_dir: str) -> DataFrame:
    """All results from COMMITTED batches (the exactly-once view)."""
    return st.read_sub(spark, state_dir, "results", _RESULT_SCHEMA)
