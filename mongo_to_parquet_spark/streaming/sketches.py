"""Streaming sketch maintenance — mergeable sketches folded on the ledger.

The sketch twins (queries/relational.py, functions/sketch.py) argue that
KMV, count-min, histogram, Misra-Gries and fixity summaries are
MERGEABLE: the state after batch ``b`` is a merge of the state after
``b-1`` with batch ``b``'s own summary, so the folded state equals the
batch sketch over the same data for ANY batch partitioning. This module
makes that operational with one fold, :func:`_start_fold`: batch ``bid``
reads each sub-state's newest committed version (``read_latest``), writes
``merge(batch, prior)`` to ``<sub>/batch=<bid>``, and commits through the
ledger marker of ``streaming/state.start_ledger_stream`` — the same store
as every other fold in this package. The marker is published after ALL
sub-states of a batch are written, so a multi-sketch batch is in every
sketch or in none; a torn batch (dirs without a marker) is invisible to
the readers and recomputed on replay; a committed batch id is skipped, so
the additive folds (CMS, histogram, MG, fixity) never double-count. After
each commit the vacuum drops every older version of every sub-state.

Ledger contract: a state dir belongs to one checkpoint; a rerun under a
fresh checkpoint skips the batch ids that are already committed.

Scale: per batch the shuffle carries the batch's own summary (distinct
hashes, d·w CMS cells, bins, distinct items, partitions) plus the prior
state; storage is one version of each sketch — O(k + d·w + bins) for any
stream length.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions import sketch as _sk
from mongo_to_parquet_spark.streaming import state as st

_KMV = "h bigint"
_CMS = "i int, b bigint, c bigint"
_HIST = "bin bigint, c bigint"
_MG = "item string, c bigint"
_META = "n bigint"
_MULTI = {"kmv": _KMV, "cms": _CMS, "hist": _HIST}
#: an empty digest state reads with BIGINT parts (the stream's own part
#: type is only known to the stream)
_DIGESTS = "part bigint, n_rows bigint, vsum decimal(38,0)"


def _start_fold(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    subs: dict,
    merge: Callable[[DataFrame, dict[str, DataFrame]], dict[str, DataFrame]],
):
    """Start the ledger fold of every sketch here: ``subs`` maps each
    sub-state to its schema, ``merge(batch_df, prior)`` maps the batch and
    the ``{sub: newest committed state}`` frames to ``{sub: new state}``.
    Returns the started StreamingQuery (availableNow trigger — callers
    drain with ``awaitTermination``)."""
    spark = stream_df.sparkSession

    def body(batch_df: DataFrame, bid: int) -> None:
        prior = {
            sub: st.read_latest(spark, state_dir, sub, schema, below=bid)
            for sub, schema in subs.items()
        }
        for sub, df in merge(batch_df, prior).items():
            df.write.mode("overwrite").parquet(
                os.path.join(state_dir, sub, f"batch={bid}")
            )

    return st.start_ledger_stream(
        stream_df,
        state_dir,
        checkpoint_dir,
        body,
        after_commit=lambda: st.vacuum(state_dir, [], swap_subs=list(subs)),
    )


def _kmv_merge(hashes: DataFrame, prior: DataFrame, k: int) -> DataFrame:
    """k smallest of the union — set-union + truncate is associative,
    commutative and idempotent, so the fold is bit-identical to the batch
    sketch."""
    return hashes.unionByName(prior).distinct().orderBy("h").limit(k)


def _sum_merge(contrib: DataFrame, prior: DataFrame, keys, cols) -> DataFrame:
    """Additive merge: per-key sums of ``cols`` over contribution ∪ prior
    (a sum keeps the BIGINT and DECIMAL(38,0) types of the states)."""
    return (
        contrib.unionByName(prior)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def stream_kmv_distinct(
    stream_df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = _sk.DEFAULT_K,
    salt: str = "kmv:",
):
    """Maintain a KMV distinct-count sketch of ``col`` over a stream; the
    state ``kmv`` holds ≤k (h BIGINT) rows. Estimate afterwards with
    :func:`read_kmv_estimate`."""
    h = _sk.kmv_hash(F.col(col), salt=salt)

    def merge(batch_df, prior):
        bh = batch_df.select(h.alias("h")).filter(F.col("h").isNotNull())
        return {"kmv": _kmv_merge(bh, prior["kmv"], k)}

    return _start_fold(stream_df, state_dir, checkpoint_dir, {"kmv": _KMV}, merge)


def read_kmv_estimate(
    spark: SparkSession, state_dir: str, k: int = _sk.DEFAULT_K
) -> DataFrame:
    """1-row (approx_users DOUBLE) estimate from the committed state —
    the same expression as the batch q_agg_approx_distinct twin, so the
    streamed fold must hash-match it exactly over identical data."""
    s = st.read_latest(spark, state_dir, "kmv", _KMV).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"), F.max("h").alias("theta")
    )
    return s.select(
        _sk.kmv_estimate(F.col("m"), F.col("theta"), k).alias("approx_users")
    )


# ------------------------------------------------------ multi-sketch fold ---


def multi_sketch_batch(
    df: DataFrame,
    distinct_col: str,
    freq_col: str,
    hist_col: str,
    hist_step: float,
    k: int = _sk.DEFAULT_K,
) -> dict[str, DataFrame]:
    """The three sketch tables over a (batch) DataFrame — the single
    source of truth for both the batch baseline and the per-batch
    contribution inside :func:`stream_multi_sketch`:

    - ``kmv``:  k smallest distinct md5 hashes of ``distinct_col``
    - ``cms``:  d×w count-min cells over ``freq_col`` (additive)
    - ``hist``: fixed-step bin counts over ``hist_col`` (additive)
    """
    h = _sk.kmv_hash(F.col(distinct_col))
    kmv = (
        df.select(h.alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    ii = F.array(*[F.lit(i) for i in range(_sk.CMS_D)])
    toks = df.select(F.col(freq_col).cast("string").alias("tok")).filter(
        F.col("tok").isNotNull()
    )
    cms = (
        toks.select("tok", F.explode(ii).alias("i"))
        .groupBy("i", _sk.cms_bucket(F.col("tok"), F.col("i")).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = (
        df.filter(F.col(hist_col).isNotNull())
        .groupBy(
            F.floor(F.col(hist_col) / F.lit(hist_step)).cast("bigint").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return {"kmv": kmv, "cms": cms, "hist": hist}


def stream_multi_sketch(
    stream_df: DataFrame,
    distinct_col: str,
    freq_col: str,
    hist_col: str,
    state_dir: str,
    checkpoint_dir: str,
    hist_step: float = 10.0,
    k: int = _sk.DEFAULT_K,
):
    """Maintain THREE sketches over one stream pass with ONE commit per
    batch: a KMV distinct sketch (idempotent fold), a count-min frequency
    sketch and a fixed-bin histogram (both ADDITIVE folds — re-adding a
    replayed batch would double-count).

    All three tables of a batch are written before its single ledger
    marker is published, so a batch is folded into every sketch or into
    none, and a committed batch id is skipped before anything is read —
    one commit point turns the per-sketch guards into a joint
    exactly-once across the two merge algebras.

    Scale: per batch the shuffle carries the batch's distinct hashes
    (≤ batch distinct count) + d·w CMS cells + histogram bins — state
    and traffic are O(k + d·w + bins) regardless of stream length.
    """

    def merge(batch_df, prior):
        c = multi_sketch_batch(
            batch_df, distinct_col, freq_col, hist_col, hist_step, k=k
        )
        return {
            "kmv": _kmv_merge(c["kmv"], prior["kmv"], k),
            "cms": _sum_merge(c["cms"], prior["cms"], ["i", "b"], ["c"]),
            "hist": _sum_merge(c["hist"], prior["hist"], ["bin"], ["c"]),
        }

    return _start_fold(stream_df, state_dir, checkpoint_dir, _MULTI, merge)


def read_multi_sketch(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """The committed sketch tables — compare directly against
    :func:`multi_sketch_batch` over the same data."""
    return {sub: st.read_latest(spark, state_dir, sub, s) for sub, s in _MULTI.items()}


# -------------------------------------------------- heavy-hitters fold -----


def stream_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 32,
):
    """Maintain a k-counter Misra-Gries heavy-hitters summary over a
    stream — the streaming half of ``operators/freq.frequent_items``
    (same algebra, same module-docstring guarantees; the batch operator's
    exact-recount stage has no streaming analogue, so the state here is
    the CANDIDATE summary plus lower bounds, and the containment
    guarantee is what the reader exposes).

    Fold per batch: exact per-item batch counts (map-combined groupBy)
    merge additively into the state, then ONE compaction — subtract the
    (k+1)-th largest merged count from everything, drop the non-positive
    — restores ``|state| <= k`` ("Mergeable Summaries" thm 1: merged
    error stays <= n/(k+1), identical to sequential MG). Hence any item
    with true count > n_total/(k+1) is guaranteed present, and each
    retained ``c`` is a LOWER bound with ``true - c <= n/(k+1)``.

    The additive merge makes replay double-count; the ledger skip of a
    committed batch id prevents it. The summary ``mg`` and the total row
    count ``meta`` (for threshold math at read time) commit under one
    marker. Per-batch shuffle: the batch's distinct items (map-combined)
    + k state rows; state O(k).
    """

    def merge(batch_df, prior):
        src = batch_df.select(F.col(col).cast("string").alias("item")).filter(
            F.col("item").isNotNull()
        )
        counts = src.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        merged = _sum_merge(counts, prior["mg"], ["item"], ["c"])
        n = src.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        # compaction: cut = (k+1)-th largest count if more than k items
        # survive the merge (0 otherwise) — only the top-(k+1) slice is
        # ever materialized, never a global sort of the merged relation
        top = merged.orderBy(F.desc("c"), "item").limit(k + 1).collect()
        cut = int(top[-1]["c"]) if len(top) == k + 1 else 0
        return {
            "mg": merged.filter(F.col("c") > cut).select(
                "item", (F.col("c") - cut).alias("c")
            ),
            "meta": _sum_merge(n, prior["meta"], [], ["n"]),
        }

    subs = {"mg": _MG, "meta": _META}
    return _start_fold(stream_df, state_dir, checkpoint_dir, subs, merge)


def read_heavy_hitters(spark: SparkSession, state_dir: str) -> DataFrame:
    """Committed MG summary joined with the folded total: (item, lb, n).
    Containment contract for callers: every item with true count
    > n/(k+1) is present, and lb <= true count <= lb + n/(k+1)."""
    mg = st.read_latest(spark, state_dir, "mg", _MG)
    n = st.read_latest(spark, state_dir, "meta", _META)
    return mg.crossJoin(F.broadcast(n)).select("item", F.col("c").alias("lb"), "n")


# ------------------------------------------------------- fixity digests ----


def stream_fixity(
    stream_df: DataFrame,
    part_col,
    payload_col,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain per-partition fixity digests over a stream — continuous
    export verification: as batches ship, the folded state always equals
    ``functions/sketch.fixity_batch`` over everything shipped so far, so
    an auditor can compare the destination copy's digest against the
    stream's at any moment without re-scanning history.

    The digest sum is ADDITIVE (not idempotent like the KMV union), so
    replay would double-count; the ledger skip of a committed batch id
    prevents it. Per-batch shuffle: the batch's partition census; state:
    one row per partition ever seen.
    """
    # the digest schema follows part_col's type, so take it from the
    # (unstarted) stream's own plan
    subs = {"digests": _sk.fixity_batch(stream_df, part_col, payload_col).schema}

    def merge(batch_df, prior):
        d = _sk.fixity_batch(batch_df, part_col, payload_col)
        cols = ["n_rows", "vsum"]
        return {"digests": _sum_merge(d, prior["digests"], ["part"], cols)}

    return _start_fold(stream_df, state_dir, checkpoint_dir, subs, merge)


def read_fixity(spark: SparkSession, state_dir: str) -> DataFrame:
    """Committed digests, reduced to the wire format: (part, n_rows,
    checksum) — directly comparable to ``fixity_batch`` reduced by
    ``fixity_checksum`` over the same rows, and to q_export_fixity's
    per-year checksum column."""
    d = st.read_latest(spark, state_dir, "digests", _DIGESTS)
    return d.select(
        "part", "n_rows", _sk.fixity_checksum(F.col("vsum")).alias("checksum")
    )
