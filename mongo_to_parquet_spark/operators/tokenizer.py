"""Tokenizer artifact store — train once, persist, apply on every ingest.

The reference re-runs its whole export on every invocation (reference
main.py:288-293 re-copies the date window); the tokenizer analog of that
anti-pattern is what the query layer did until round 8: all three
tokenizer pipelines (BPE / unigram-LM / WordPiece) RETRAINED inline on
every apply, so tokenizing a new data slice cost a full training pass
over the census. At 100 TB the real shape is the ANN-layout discipline
(operators/similarity.build_ivf_layout → serve): train ONCE, persist the
trained table as a versioned artifact, and have every subsequent ingest
read the artifact and tokenize at scan speed — training never re-enters
the per-ingest cost.

This module is that store. An artifact is a parquet table — the merge
table for BPE/WordPiece (rank, x, y, merged, ...), the (piece, cnt)
vocabulary for unigram — written under ``art_dir/v=N`` in the version
store format of operators/incremental.py (``publish_version``; readers
skip orphan directories from crashed writes). The marker's metadata
records the tokenizer family and training configuration so a loader can
refuse an artifact trained under a different contract.

Why the artifact is safe to collect: every trained table is
vocabulary-sized by construction (k ≤ 8 merge rows; ≤ alphabet +
_UNI_KEEP unigram pieces) — the bounded-driver-pick discipline that
already governs the trainers' argmax collects. Apply therefore folds the
artifact into the plan as expression literals (bpe_apply_cols /
_uni_vm_lit), exactly how the inline pipelines already broadcast their
freshly-trained tables; store→load→apply and train→apply share one
apply definition per family, so the two paths cannot drift.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from mongo_to_parquet_spark.operators.incremental import (
    COMMIT_MARKER,
    _versions,
    prune_versions,
    publish_version,
)
from mongo_to_parquet_spark.sources.catalog import scratch_dir

#: retention for the store: the artifact layout IS the incremental-state
#: layout (v=N dirs + commit markers), so its vacuum is the same code —
#: prune_artifacts(art_dir, keep_last) deletes superseded versions and
#: orphans while the newest committed version (the serving table) stays.
prune_artifacts = prune_versions

#: artifact table schemas per trained-model family (the trained-table
#: shape each family's trainer emits and its apply expects). The store is
#: tokenizer-first but serves ANY bounded trained table — "langid" is the
#: hashed n-gram classifier's langs×buckets weight table, the other
#: inline-retrained model this engine ships.
SCHEMAS = {
    "bpe": "rank bigint, x string, y string, merged string, cnt bigint",
    "wordpiece": (
        "rank bigint, x string, y string, merged string,"
        " cnt bigint, score_x1e9 bigint"
    ),
    "unigram": "piece string, cnt bigint",
    "langid": "mlang string, b bigint, wgt bigint",
    # DSIR stores the INTEGER sufficient statistics (per-feature target /
    # raw counts) rather than the float log-ratio weights: the serve
    # recomputes the weights from integers with the same expression tree,
    # so the artifact round-trip never depends on float serialization.
    "dsir": "f bigint, ct bigint, cr bigint",
    # round-10 families (the last inline-trained tables, verdict r9 #1).
    # unigram_freq / oov_vocab are integer count tables (total / rate
    # derive by summing — self-contained); kmeans stores the final-round
    # centroid means and pca the ROUNDED declared component — parquet
    # doubles round-trip bit-exactly, and both serves consume exactly the
    # values their oracles recompute.
    "unigram_freq": "tok string, c bigint",
    "oov_vocab": "tok string, c bigint",
    "kmeans": "cid int, pos int, cval double",
    "pca": "pos int, component double, eigenvalue double",
    # the bigram LM's complete sufficient statistics (UNPRUNED — the
    # smoothing floor must distinguish n12=1 from unseen); context
    # totals and vocabulary derive by aggregating the stored rows
    "bigram_lm": "w1 string, w2 string, n12 bigint",
    # round-11: the trained quality classifier's fixed-point integer
    # weights (operators/classifier.py) — integers round-trip parquet
    # bit-exactly, so no float ever crosses the store
    "quality_lr": "b int, w bigint",
}


def artifact_dir(sf: str, family: str) -> str:
    """The default store location for a corpus dir: keyed by the sf
    basename so artifacts trained on one fixture never serve another."""
    return os.path.join(scratch_dir("tok_artifacts", sf), family)


def artifact_current(art_dir: str, family: str, want: dict) -> bool:
    """True iff the latest committed artifact was trained under the SAME
    family and training configuration — a version trained with an older
    config (or by a different family) must be retrained, not served."""
    v = latest_version(art_dir)
    if v is None:
        return False
    meta = artifact_meta(art_dir, v)
    return meta.get("family") == family and all(
        meta.get(k) == val for k, val in want.items()
    )


def save_artifact(
    spark: SparkSession,
    rows,
    art_dir: str,
    family: str,
    meta: dict | None = None,
) -> int:
    """Persist a trained model table as the next committed version.
    ``rows`` is a list of tuples or an already-built DataFrame matching
    the family schema.

    Published by incremental.publish_version with the family attached to
    the marker metadata. Returns the committed version number.
    """
    if family not in SCHEMAS:
        raise ValueError(f"unknown tokenizer family {family!r}")
    df = (
        rows
        if isinstance(rows, DataFrame)
        else spark.createDataFrame(rows, SCHEMAS[family])
    )
    # single file: every artifact is model-sized (≤ k merges, ~100 vocab
    # pieces, langs×buckets weights), and one part keeps the serving
    # read a single open at any corpus scale
    return publish_version(
        art_dir, df.coalesce(1), {"family": family, **(meta or {})}
    )


def latest_version(art_dir: str) -> int | None:
    """Latest COMMITTED version, or None if the store is empty."""
    vs = _versions(art_dir)
    return vs[-1] if vs else None


def artifact_meta(art_dir: str, version: int) -> dict:
    with open(os.path.join(art_dir, f"v={version}", COMMIT_MARKER)) as fh:
        return json.load(fh)


def load_artifact(
    spark: SparkSession,
    art_dir: str,
    family: str,
    version: int | None = None,
) -> DataFrame:
    """Read a committed artifact version (latest by default) as a
    DataFrame, refusing orphans, missing versions, and — the loader-side
    contract check — an artifact trained for a DIFFERENT family: a
    WordPiece merge table applied as BPE would tokenize plausibly and
    silently wrong (both are merge tables), so the family is verified
    from the commit marker, not inferred from the schema.
    """
    vs = _versions(art_dir)
    if not vs:
        raise ValueError(f"no committed tokenizer artifact in {art_dir}")
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise ValueError(
            f"version {version} is not committed in {art_dir} (committed: {vs})"
        )
    meta = artifact_meta(art_dir, version)
    if meta.get("family") != family:
        raise ValueError(
            f"artifact {art_dir} v={version} was trained as "
            f"{meta.get('family')!r}, not {family!r}"
        )
    return spark.read.parquet(os.path.join(art_dir, f"v={version}"))


def load_merges(
    spark: SparkSession, art_dir: str, family: str
) -> list[tuple[str, str]]:
    """The rank-ordered [(x, y)] merge list for bpe_apply_cols — the
    bounded (k ≤ 8 rows) driver pick that turns the stored artifact back
    into apply-expression literals."""
    rows = (
        load_artifact(spark, art_dir, family)
        .orderBy("rank")
        .select("x", "y")
        .collect()
    )
    return [(r["x"], r["y"]) for r in rows]


def load_vocab(spark: SparkSession, art_dir: str) -> dict[str, int]:
    """The unigram (piece → cnt) vocabulary for _uni_vm_lit — bounded by
    the trainer's prune cap (≤ alphabet + _UNI_KEEP rows)."""
    rows = load_artifact(spark, art_dir, "unigram").collect()
    return {r["piece"]: int(r["cnt"]) for r in rows}
