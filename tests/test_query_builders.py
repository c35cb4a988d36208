"""Oracle pins for the keys that share one query builder.

Several declared keys are thin tails over a shared builder in
queries/retrieval.py, queries/llm.py, queries/curation.py,
queries/lakehouse.py, operators/dedup.py, operators/similarity.py,
operators/ranks.py or operators/validate.py (the BM25 scorer, the
in-memory IVF×PQ route, the labelled eval top-k, the winnowing
fingerprints, the bitext margin, the md5 MinHash bands and
exact-Jaccard verify, the 48-bit md5 hash, the md5 hyperplane
signature, the DSIR featurization and scoring, the unigram piece count
and apply tail, the two-slice MV refresh, the vector-search steps: the
probe batch, the single-probe and per-probe top-k tails, the IVF cell
pick, the SQ8 quantizer and the PQ split and argmin, the curation and
statistics steps: the basket→ordered-pair generator, the edge-degree
table, the mixture quota, the SCD-2 segmentation and the DECIMAL(38,0)
moment sums, and the two convergence loops: the histogram-refinement
exact ranks and the edge-set fixpoint). An edit to a builder moves
every key that calls it, so each of those keys that no other tier-1
test compares with its DuckDB oracle is checked here, with the same
comparison tools/parity.py applies.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from parity import compare, duck_connection  # noqa: E402

from mongo_to_parquet_spark.queries import oracle_sql, queries  # noqa: E402

QS = queries()
OS = oracle_sql()

BUILDER_KEYS = (
    # _bm25_corpus / _bm25_sum / _bm25_scored
    "q_bm25",
    "q_hybrid_rrf",
    "q_bm25_rm3",
    # _ivfpq_scored / _recall_at_10
    "q_eval_ann_recall_pq",
    "q_eval_ann_recall_pq_refine",
    # _labeled_topk
    "q_eval_ranking",
    "q_eval_ndcg",
    "q_eval_mrr",
    # _winnow_fp
    "q_text_winnow",
    "q_dedup_winnow",
    # _bitext_margin
    "q_mine_bitext",
    "q_mine_bitext_ivf",
    # dedup.minhash_index / dedup.jaccard_verify
    "q_dedup_minhash_md5",
    "q_dedup_incremental",
    # dedup._md5_long
    "q_dedup_simhash_md5",
    # _hp_sig
    "q_sim_topk_lsh_md5",
    "q_dedup_embed_lsh_md5",
    # _dsir_doc_feat / _dsir_fstats / _dsir_score_top
    "q_select_dsir",
    # _uni_k
    "q_unigram_curve",
    # _mv_two_slices
    "q_mv_refresh",
    "q_mv_diff",
    # similarity: _probe_batch / _sim_topk / _probe_topk / _probe_cells /
    # _ivf_batch / _sq8_dims / _pq_split / _pq_argmin
    "q_sim_topk",
    "q_sim_topk_batch",
    "q_sim_topk_ivf",
    "q_sim_topk_ivf_incremental",
    "q_sim_range",
    "q_sim_hard_negatives",
    "q_embed_pq",
    "q_sim_topk_pq",
    "q_eval_ann_recall",
    "q_embed_quantize",
    "q_knn_classify",
    # dedup._basket_pairs / dedup._edge_degrees
    "q_graph_triangles",
    "q_graph_kcore",
    "q_graph_degree_stats",
    "q_graph_linkpred",
    "q_assoc_rules",
    # _mix_quota
    "q_mix_plan",
    "q_mix_draw",
    # _scd2_segments
    "q_scd2_history",
    "q_join_pit_scd2",
    # _uni_apply
    "q_unigram_apply_artifact",
    # ranks._moment_sums
    "q_stats_regression",
    "q_stats_spearman",
    # validate.exact_ranks_smallest
    "q_agg_quantile_histogram",
    "q_partition_bounds",
    # dedup._edge_fixpoint
    "q_graph_cc_chain",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("key", BUILDER_KEYS)
def test_shared_builder_key_matches_oracle(spark, sf_dir, duck, key):
    got = QS[key](spark, sf_dir).toPandas()
    spark.catalog.clearCache()  # the bitext keys and q_select_dsir persist
    want = duck.execute(OS[key]).df()
    assert len(got) > 0, key
    assert compare(got, want) is None, (key, compare(got, want))


def _write_embeddings(d, seed):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    n = 200
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [rng.rand(8).astype("float32") for _ in range(n)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 5 for i in range(n)], pa.int32()),
            }
        ),
        f"{d}/embeddings.parquet",
    )


def test_declared_ivfpq_keys_serve_the_current_probe(spark, tmp_path):
    """The declared IVF×PQ keys rebuild their layout on every call, so
    they must also read the probe vector on every call: after a first run
    on a corpus dir, new embeddings written to that dir must still match
    the oracle (only the bench-only *_serve keys may memoize the probe)."""
    import duckdb

    d = str(tmp_path)
    _write_embeddings(d, seed=1)
    QS["q_sim_topk_ivfpq"](spark, d).collect()
    _write_embeddings(d, seed=2)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    for key in (
        "q_sim_topk_ivfpq",
        "q_sim_topk_ivfpq_refine",
        "q_sim_topk_ivfpq_incremental",
    ):
        got = QS[key](spark, d).toPandas()
        want = con.execute(OS[key]).df()
        assert compare(got, want) is None, (key, compare(got, want))
