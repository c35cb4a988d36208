"""Call-local resource hygiene (operators/scope.py): every key that holds
its persists, temp views and loop-conf pin in a scope leaves the caller's
session as it found it — no cached relation, no temp view, both loop
confs unchanged — on a normal return and on an exception, with no
clearCache() between calls."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_to_parquet_spark.operators.scope import pinned, scope
from mongo_to_parquet_spark.queries import queries

QS = queries()
LOOP_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

#: every key whose call-local persists, views or loop confs live in a scope
SCOPED_KEYS = (
    "q_bpe_train",
    "q_bpe_pipeline",
    "q_bpe_curve",
    "q_bpe_retrain_incremental",
    "q_wordpiece_train",
    "q_wordpiece_pipeline",
    "q_unigram_train",
    "q_unigram_pipeline",
    "q_unigram_curve",
    "q_tokenizer_eval",
    "q_dsir_apply_artifact",
    "q_select_cover",
    "q_partition_bounds",
    "q_partition_apply",
    "q_graph_kcore",
    "q_quality_train",
    "q_dedup_fuzzy",
    "q_dedup_ngram",
    "q_dedup_clusters",
    "q_dedup_keep_best",
    "q_graph_cc_chain",
    "q_agg_quantile_histogram",
)


def _temp_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def _state(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.isEmpty(), _temp_views(spark), [spark.conf.get(c) for c in LOOP_CONFS]


@pytest.fixture(scope="module")
def clean_session(spark):
    """Start from an empty cache and no temp views, once: keys tested in
    other modules that return lazy plans over their persists (out of the
    scope's reach) still leave those behind for the caller."""
    spark.catalog.clearCache()
    for name in _temp_views(spark):
        spark.catalog.dropTempView(name)
    return spark


@pytest.mark.parametrize("key", SCOPED_KEYS)
def test_scoped_key_leaves_session_clean(clean_session, sf_dir, key):
    spark = clean_session
    confs = [spark.conf.get(c) for c in LOOP_CONFS]
    QS[key](spark, sf_dir).collect()
    assert _state(spark) == (True, [], confs)
    assert not pinned()


def test_merge_trainer_failure_leaves_session_clean(clean_session):
    """The census only fails when its persisted relation materializes (a
    plain count() prunes the raising column away): setup that runs
    before cleanup is armed would leak the cache and the view."""
    from mongo_to_parquet_spark.queries.curation import _bpe_train_from_census

    spark = clean_session
    confs = [spark.conf.get(c) for c in LOOP_CONFS]
    census = spark.range(3).select(
        F.raise_error(F.lit("census boom")).cast("string").alias("sym"),
        F.lit(1).cast("long").alias("wc"),
    )
    with pytest.raises(Exception, match="census boom"):
        _bpe_train_from_census(census)
    assert _state(spark) == (True, [], confs)
    assert not pinned()


def test_scope_releases_and_restores(clean_session):
    spark = clean_session
    confs = [spark.conf.get(c) for c in LOOP_CONFS]
    with scope(spark) as sc:
        a = sc.persist(spark.range(10))
        b = sc.persist(spark.range(20))
        assert a.count() == 10 and b.count() == 20
        sc.release(a)
        assert not a.storageLevel.useMemory and b.storageLevel.useMemory
        view = sc.view(a, "t")
        b.createOrReplaceTempView(view)  # a rebound view is still dropped
        assert spark.table(view).count() == 20
        sc.pin(3)
        assert pinned()
        assert [spark.conf.get(c) for c in LOOP_CONFS] == ["false", "3"]
    assert _state(spark) == (True, [], confs)
    assert not pinned()


def test_layout_build_refused_under_pin(clean_session, sf_dir, tmp_path):
    """Layout pieces are written from concurrent jobs on the session: under
    a pin they would inherit the loop's session-global confs."""
    from mongo_to_parquet_spark.operators.similarity import build_ivf_layout
    from mongo_to_parquet_spark.sources.catalog import load_table

    spark = clean_session
    emb = load_table(spark, sf_dir, "embeddings")
    with scope(spark) as sc:
        sc.pin(1)
        with pytest.raises(RuntimeError, match="loop-conf pin"):
            build_ivf_layout(emb, str(tmp_path / "ivf"), n_cells=4)
    build_ivf_layout(emb, str(tmp_path / "ivf"), n_cells=4)
