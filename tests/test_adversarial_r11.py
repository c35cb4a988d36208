"""Round-11 adversarial self-review tests (SURVEY §7 standing
discipline), starting with the round-10 ADVICE items: the q_embed_pca
covariance divisor on a degenerate corpus (null / empty embeddings must
not inflate n), and the decimal-summed order-free nll reductions."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mongo_to_parquet_spark.queries import oracle_sql, queries

QS = queries()
OR = oracle_sql()


def _embeddings(tmpdir, rows):
    """rows: list of (vec_id, embedding-or-None, label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tab, f"{tmpdir}/embeddings.parquet")


def _duck(sf_dir, tables=("embeddings",)):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_pca_degenerate_corpus_divisor(spark, tmp_path):
    """Round-10 ADVICE (medium): the engine's covariance divisor was
    e.count() while the oracle divides by COUNT(DISTINCT vec_id) over the
    rows that actually PRODUCE dims — a null or empty embedding unnests to
    zero dim rows, so it must not inflate n. The sf fixtures hide this
    (every vec_id unique, every embedding present); this corpus has one
    NULL and one empty-array embedding among 6 real vectors, so the wrong
    divisor (n=8 vs n=6) shifts every covariance entry by 7/5 and the
    component/eigenvalue hashes diverge."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 3)
        for i in range(1, 7)
    ]
    rows.append((7, None, 0))  # NULL embedding
    rows.append((8, [], 1))  # empty array
    d = str(tmp_path / "pca_degenerate")
    os.makedirs(d)
    _embeddings(d, rows)

    oracle = sorted(_duck(d).execute(OR["q_embed_pca"]).fetchall())
    engine = sorted(
        (r["pos"], r["component"], r["eigenvalue"])
        for r in QS["q_embed_pca"](spark, d).collect()
    )
    assert len(engine) == 64
    assert engine == [tuple(r) for r in oracle]


def test_pca_all_degenerate_refuses_identically(spark, tmp_path):
    """Boundary: a corpus of ONLY null/empty embeddings produces no dims
    at all — n=0 and the covariance divisor n-1 = -1. Both engines should
    degenerate the same way (empty / NaN-free zero-row result), not
    silently disagree."""
    d = str(tmp_path / "pca_empty")
    os.makedirs(d)
    _embeddings(d, [(1, None, 0), (2, [], 1)])

    oracle = _duck(d).execute(OR["q_embed_pca"]).fetchall()
    engine = QS["q_embed_pca"](spark, d).collect()
    assert len(engine) == len(oracle) == 0


def test_rebuild_invalidates_marker_first(spark, tmp_path):
    """Round-10 ADVICE (low): build_ivf_layout used to overwrite vectors/
    and centroids/ while the PREVIOUS build's _LAYOUT.json stayed
    committed — a crash mid-rebuild left a stale marker that
    layout_current() accepted over partial/differently-configured data.
    The rebuild now removes the marker BEFORE any overwrite begins, so
    the failure window reads as config-unknown ({}) and is refused."""
    from unittest import mock

    from mongo_to_parquet_spark.operators import similarity as sim
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    d = str(tmp_path / "ivf_crash")
    sim.build_ivf_layout(emb, d, n_cells=8, overlap=1)
    assert sim.layout_current(d, {"n_cells": 8, "overlap": 1})

    # crash the rebuild at the first write AFTER invalidation: the old
    # marker must already be gone, so the half-rebuilt dir refuses
    with mock.patch.object(
        sim, "_centroids", side_effect=RuntimeError("crash mid-rebuild")
    ):
        with pytest.raises(RuntimeError, match="crash mid-rebuild"):
            sim.build_ivf_layout(emb, d, n_cells=16, overlap=2)
    assert sim.read_layout_meta(d) == {}
    assert not sim.layout_current(d, {"n_cells": 8, "overlap": 1})
    assert not sim.layout_current(d, {"n_cells": 16, "overlap": 2})

    # a completed rebuild recommits the marker and serves again
    sim.build_ivf_layout(emb, d, n_cells=16, overlap=2)
    assert sim.layout_current(d, {"n_cells": 16, "overlap": 2})


def test_quality_classifier_learns_and_separates(spark, sf_dir):
    """The trained classifier must beat the majority-class baseline on
    the HELD-OUT split (doc_id % 4 == 0) and predict both classes — a
    model that scores all-keep is a calibration failure even when its
    ranking is perfect (exactly what 6 iterations produced before the
    16x16 schedule was chosen)."""
    from mongo_to_parquet_spark.operators import classifier as clf
    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    scored = {
        r["doc_id"]: r["keep"]
        for r in queries()["q_quality_apply_artifact"](spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    labels = {
        r["doc_id"]: r["y"]
        for r in clf.doc_dense(d).select("doc_id", "y").collect()
    }
    held = [i for i in labels if i % 4 == 0]
    base = max(
        sum(labels[i] for i in held), sum(1 - labels[i] for i in held)
    ) / len(held)
    acc = sum(int(scored[i]) == labels[i] for i in held) / len(held)
    assert acc >= 0.9 and acc > base
    kept = {scored[i] for i in held}
    assert kept == {True, False}  # both classes predicted


def test_quality_classifier_fixed_point_determinism(spark, tmp_path):
    """Bit-exact training on a throwaway corpus: two independent trains
    over the same data produce IDENTICAL integer weights (order-free
    integer sums — no float path anywhere), and the driver-side update
    uses truncating division (SQL div), not Python floor."""
    from mongo_to_parquet_spark.operators import classifier as clf

    assert clf._tdiv(-7, 2) == -3 and clf._tdiv(7, -2) == -3
    assert clf._tdiv(-8, 2) == -4 and clf._tdiv(8, 3) == 2

    texts = [
        " ".join(["alpha beta gamma delta"] * (3 + i % 7))
        for i in range(40)
    ] + ["tiny doc"] * 10
    d = str(tmp_path / "qlr_det")
    os.makedirs(d)
    _docs(d, texts)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    w1 = clf.train_logreg_dense(clf.doc_dense(docs))
    w2 = clf.train_logreg_dense(clf.doc_dense(docs.repartition(7)))
    assert w1 == w2 and len(w1) == clf.N_W
    assert all(isinstance(w, int) for w in w1)


def _docs(tmpdir, texts, ids=None):
    ids = ids or list(range(1, len(texts) + 1))
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(f"{tmpdir}/documents.parquet")


def _drifted_corpus(tmp_path):
    """The round-10 drift fixture (test_adversarial_r10.py:268): base
    slice clustered on coordinate axes, delta a dense off-axis cluster
    that scatters across the frozen cells."""
    import numpy as np

    dim = 8
    rows = []
    base_ids = [i for i in range(1, 120) if i % 4 != 0]
    for j, vid in enumerate(base_ids[:16]):
        v = np.zeros(dim, dtype=np.float32)
        v[j % dim] = 10.0 + (j // dim) * 0.1
        rows.append((vid, v))
    for j, vid in enumerate(base_ids[16:88]):
        v = np.zeros(dim, dtype=np.float32)
        v[j % dim] = 8.0 + 0.01 * j
        rows.append((vid, v))
    for j, vid in enumerate(range(4, 4 * 49, 4)):
        v = np.full(dim, 5.0, dtype=np.float32)
        v[j % dim] += 3.0 + 0.001 * j
        rows.append((vid, v))
    pd.DataFrame(
        {
            "vec_id": pd.array([r[0] for r in rows], dtype="int64"),
            "embedding": [r[1] for r in rows],
            "label": pd.array([0] * len(rows), dtype="int32"),
        }
    ).to_parquet(f"{tmp_path}/embeddings.parquet")


def test_ann_drift_rebuild_loop_restores_recall(spark, tmp_path):
    """Round-10 verdict item 3: q_ann_drift REPORTS rebuild=true but
    nothing acted on it. maintain_ivf_layout is the build→monitor→
    rebuild→verify loop: on the drifted corpus the frozen v1 layout's
    recall collapses past the 5pp threshold, the loop rebuilds on the
    current corpus with a version-bumped marker, recall recovers to
    within epsilon of build-time, and serves pinned to v1 refuse."""
    from mongo_to_parquet_spark.operators.similarity import (
        layout_current,
        maintain_ivf_layout,
        read_layout_meta,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    _drifted_corpus(tmp_path)
    emb = load_table(spark, str(tmp_path), "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    d = str(tmp_path / "layout")

    # day 0: build on the base corpus — recall is high and recorded
    r1 = maintain_ivf_layout(base, d, n_cells=16, n_probe=4, n_probes=16)
    assert r1["rebuilt"] and r1["version"] == 1
    assert r1["build_recall_bp"] >= 9000
    assert read_layout_meta(d)["build_recall_bp"] == r1["build_recall_bp"]

    # day 0 again (no drift): the loop is idempotent — no rebuild
    r1b = maintain_ivf_layout(base, d, n_cells=16, n_probe=4, n_probes=16)
    assert not r1b["rebuilt"] and r1b["version"] == 1
    assert r1b["drift_bp"] == 0

    # day N: the full (drifted) corpus under the FROZEN v1 centroids —
    # drift trips, the loop rebuilds, recall recovers
    r2 = maintain_ivf_layout(emb, d, n_cells=16, n_probe=4, n_probes=16)
    assert r2["rebuilt"] and r2["version"] == 2
    assert r2["drift_bp"] > 500
    assert r2["new_recall_bp"] >= r2["build_recall_bp"] - 500
    assert r2["new_recall_bp"] - r2["now_recall_bp"] > 500  # real recovery

    # the version bump refuses serves pinned to the old version
    assert layout_current(d, {"version": 2, "n_cells": 16})
    assert not layout_current(d, {"version": 1})


def test_layout_serve_cache_invalidation(spark, tmp_path):
    """Round-10 verdict item 6: the serve path memoizes the marker meta
    and the model tables per (layout_dir, marker stamp). The cache must
    (a) serve identical results to the cold path, (b) self-invalidate
    when the layout is rewritten (new marker stamp -> new centroids
    actually used), and (c) never cache a MISSING marker — the
    invalidate-first rebuild window still reads config-unknown."""
    from mongo_to_parquet_spark.operators import similarity as sim
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probe = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    d = str(tmp_path / "cache_inv")

    sim.build_ivf_layout(emb, d, n_cells=8)
    cold = [
        tuple(r)
        for r in sim.ivf_topk_from_layout(spark, d, list(probe), k=5).collect()
    ]
    assert d in sim._SERVE_CACHE and "centroids" in sim._SERVE_CACHE[d]
    warm = [
        tuple(r)
        for r in sim.ivf_topk_from_layout(spark, d, list(probe), k=5).collect()
    ]
    assert warm == cold

    # rewrite under a different config: the stamp changes, the cached
    # 8-cell centroids must NOT leak into the 4-cell serve
    sim.build_ivf_layout(emb.filter(F.col("vec_id") % 2 == 0), d, n_cells=4)
    st = sim.layout_serve_state(spark, d, parts=("centroids",))
    assert len(st["centroids"]) == 4 and st["meta"]["n_cells"] == 4
    rebuilt = sim.ivf_topk_from_layout(spark, d, list(probe), k=5).collect()
    assert all(r["vec_id"] % 2 == 0 for r in rebuilt)  # new corpus only

    # mid-rebuild window: marker gone -> config-unknown, nothing cached
    sim.invalidate_layout_meta(d)
    assert sim.layout_serve_state(spark, d)["meta"] == {}
    assert d not in sim._SERVE_CACHE
    assert not sim.layout_current(d, {"n_cells": 4})


def test_ivfpq_drift_rebuild_loop(spark, tmp_path):
    """The drift loop extended to the IVFPQ family (both quantizer
    halves frozen): v1 built on the base corpus records its recall; the
    drifted corpus trips the threshold; the rebuild re-trains BOTH the
    coarse cells and the SQ8/codebook on the current corpus and recall
    recovers. The serve-state cache must follow the version bump (the
    rebuilt marker re-lands -> new stamp -> new centroids served)."""
    from mongo_to_parquet_spark.operators.similarity import (
        layout_current,
        maintain_ivfpq_layout,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    _drifted_corpus(tmp_path)
    emb = load_table(spark, str(tmp_path), "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    d = str(tmp_path / "pq_layout")

    r1 = maintain_ivfpq_layout(
        base, d, n_cells=16, n_probe=4, n_probes=16, refine=50
    )
    assert r1["rebuilt"] and r1["version"] == 1
    assert r1["build_recall_bp"] >= 8000  # two-stage on-axis recall

    r1b = maintain_ivfpq_layout(
        base, d, n_cells=16, n_probe=4, n_probes=16, refine=50
    )
    assert not r1b["rebuilt"] and r1b["drift_bp"] == 0

    r2 = maintain_ivfpq_layout(
        emb, d, n_cells=16, n_probe=4, n_probes=16, refine=50
    )
    assert r2["rebuilt"] and r2["version"] == 2
    assert r2["drift_bp"] > 500
    assert r2["new_recall_bp"] - r2["now_recall_bp"] > 500
    assert layout_current(d, {"version": 2, "family": "ivfpq"})
    assert not layout_current(d, {"version": 1})


def test_layout_loop_edges_without_spark(tmp_path):
    """The one build→monitor→rebuild loop behind maintain_ivf_layout and
    maintain_ivfpq_layout, driven by fake build/measure callables (no
    Spark): drift exactly equal to thresh_bp does not rebuild (the
    comparison is strict), and a committed marker of another config
    rebuilds at version 1 whatever version it carried."""
    from mongo_to_parquet_spark.operators.similarity import (
        _maintain_layout,
        read_layout_meta,
        write_layout_meta,
    )

    d = str(tmp_path / "layout")
    os.makedirs(d)
    want = {"family": "fake", "n_cells": 4}
    builds = []
    recall = {"bp": 9000}

    def build():
        builds.append(1)
        write_layout_meta(d, dict(want))  # a build lands a config-only marker

    def loop():
        return _maintain_layout(d, want, build, lambda: recall["bp"], 500)

    r = loop()
    assert r == {
        "version": 1, "build_recall_bp": 9000, "now_recall_bp": 9000,
        "drift_bp": 0, "rebuilt": True, "new_recall_bp": 9000,
    }
    assert read_layout_meta(d) == {**want, "version": 1, "build_recall_bp": 9000}

    recall["bp"] = 8500  # drift == thresh_bp: kept
    r = loop()
    assert not r["rebuilt"] and r["drift_bp"] == 500 and r["version"] == 1
    assert len(builds) == 1
    assert read_layout_meta(d)["build_recall_bp"] == 9000

    recall["bp"] = 8499  # one past: rebuilt at version 2
    r = loop()
    assert r["rebuilt"] and r["drift_bp"] == 501 and r["version"] == 2
    assert (r["build_recall_bp"], r["now_recall_bp"]) == (9000, 8499)
    assert len(builds) == 2

    # a committed marker of another config: rebuilt at version 1
    write_layout_meta(d, {**want, "n_cells": 8, "version": 7, "build_recall_bp": 1})
    recall["bp"] = 7000
    r = loop()
    assert r["rebuilt"] and r["version"] == 1 and r["drift_bp"] == 0
    assert len(builds) == 3
    assert read_layout_meta(d) == {**want, "version": 1, "build_recall_bp": 7000}
