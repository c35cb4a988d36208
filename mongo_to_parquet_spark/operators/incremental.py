"""Incremental aggregate maintenance (materialized-view refresh).

The reference re-copies its whole date window on every run
(reference main.py:288-293); the batch analog for AGGREGATES is worse — a
nightly ``groupBy`` over 100 TB recomputes 100 TB to change the few keys
that got new rows. This module maintains a per-key ALGEBRAIC state —
count / per-measure sum / non-null count / min / max (avg derives as
sum/non-null-count) — that is updated from each new data slice alone:

    state' = merge(state, partial_agg(new_slice))

so a refresh costs O(new data + touched keys), never O(history). The same
decomposition is why Spark's own partial aggregation works; here it is
lifted to a persisted table.

Version store format (the one copy — :func:`publish_version` is the only
writer; the aggregate state here, the streaming upsert / CDC tables of
streaming/export.py and the trained-model artifacts of
operators/tokenizer.py all publish through it): a store is a directory of
``v=N`` versions. A new version is numbered past EVERY ``v=N`` directory,
orphans included, its parquet is written in full, and only then is
``v=N/_COMMITTED.json`` = ``{"version": N, **meta}`` published by a tmp
write plus ``os.replace``. A version COUNTS only once that marker exists,
so a crashed write leaves an orphan directory that readers skip and the
next write numbers past (never reads, never reuses). The aggregate
state's marker also records the micro-batch id that produced the
version, which makes the streaming refresh idempotent under
foreachBatch's at-least-once replay: a replayed batch id ≤ the last
committed one is skipped instead of being double-counted (checkpoints
dedupe *source offsets*, not sink effects).

Limits, stated: only algebraic aggregates decompose this way. Exact
count-distinct / exact percentiles are holistic — the scale path for those
is a mergeable sketch state (the HLL union in q_agg_hll_sketch, the GK
sketch in q_agg_approx_percentile) maintained under this same
merge-partials pattern.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: commit marker written after a version's parquet is fully on disk
COMMIT_MARKER = "_COMMITTED.json"


def partial_agg_state(df: DataFrame, keys: list[str], measures: list[str]) -> DataFrame:
    """One slice's algebraic state: n_rows + sum/cnt/min/max per measure.

    Sums run in DECIMAL(38,6) so merging partials is exact and
    order-independent — float sums would drift between refresh orders.
    ``cnt_<m>`` counts NON-NULL measure values (what ``AVG`` divides by);
    ``n_rows`` counts all rows — the two differ whenever a measure has
    nulls.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measures:
        dec = F.col(m).cast("decimal(38,6)")
        aggs += [
            F.sum(dec).alias(f"sum_{m}"),
            F.count(F.col(m)).alias(f"cnt_{m}"),
            F.min(F.col(m)).alias(f"min_{m}"),
            F.max(F.col(m)).alias(f"max_{m}"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str], measures: list[str]) -> DataFrame:
    """Combine two states key-wise: counts/sums add, mins/maxes fold.

    Outer-union shape (union + re-aggregate) rather than full-outer join:
    one hash shuffle on the key, and it generalizes to merging k states
    in one pass.
    """
    u = a.unionByName(b)
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        aggs += [
            F.sum(f"sum_{m}").alias(f"sum_{m}"),
            F.sum(f"cnt_{m}").alias(f"cnt_{m}"),
            F.min(f"min_{m}").alias(f"min_{m}"),
            F.max(f"max_{m}").alias(f"max_{m}"),
        ]
    return u.groupBy(*keys).agg(*aggs)


def state_snapshot(state: DataFrame, measures: list[str]) -> DataFrame:
    """Readable view of a state: derived avg per measure alongside the
    algebraic columns (what a SELECT against the materialized view sees).

    ``avg = sum / non-null count`` — matches ``AVG(m)`` exactly when the
    measure contains nulls, and is NULL (not an error/∞) for an all-null
    key.
    """
    out = state
    for m in measures:
        out = out.withColumn(
            f"avg_{m}",
            F.when(
                F.col(f"cnt_{m}") > 0,
                (F.col(f"sum_{m}") / F.col(f"cnt_{m}")).cast("double"),
            ),
        )
    return out


def _all_versions(state_dir: str) -> list[int]:
    """Every ``v=N`` directory, committed or not (orphans included)."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )


def _versions(state_dir: str) -> list[int]:
    """COMMITTED versions only — a ``v=N`` without its marker is a crashed
    write's orphan and must never be read as state."""
    return [
        v
        for v in _all_versions(state_dir)
        if os.path.isfile(os.path.join(state_dir, f"v={v}", COMMIT_MARKER))
    ]


def publish_version(state_dir: str, df: DataFrame, meta: dict) -> int:
    """Write ``df`` as the next version of the store and commit it with
    ``{"version": N, **meta}``; returns N."""
    version = (_all_versions(state_dir) or [0])[-1] + 1
    vdir = os.path.join(state_dir, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    marker = os.path.join(vdir, COMMIT_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version, **meta}, fh)
    os.replace(tmp, marker)
    return version


def last_batch_id(state_dir: str) -> int | None:
    """Batch id recorded by the latest committed version (None if no
    version exists or the state was last written by a batch-less refresh)."""
    vs = _versions(state_dir)
    if not vs:
        return None
    with open(os.path.join(state_dir, f"v={vs[-1]}", COMMIT_MARKER)) as fh:
        return json.load(fh).get("batch_id")


def read_agg_state(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame | None:
    """Read the aggregate state — latest committed version by default, or
    a specific committed one (time travel: "the view as of refresh N",
    for auditing a refresh or diffing two refreshes with snapshot_diff).

    Requesting an uncommitted / missing version raises rather than
    silently reading a crashed write's orphan.
    """
    vs = _versions(state_dir)
    if not vs:
        return None
    if version is not None:
        if version not in vs:
            raise ValueError(
                f"version {version} is not committed in {state_dir} "
                f"(committed: {vs})"
            )
        return spark.read.parquet(os.path.join(state_dir, f"v={version}"))
    return spark.read.parquet(os.path.join(state_dir, f"v={vs[-1]}"))


def prune_versions(state_dir: str, keep_last: int = 2) -> list[int]:
    """Vacuum old state: delete committed versions beyond the newest
    ``keep_last`` plus every uncommitted orphan; returns deleted version
    numbers. The latest committed version is never deleted (keep_last
    is clamped to ≥1), so readers of the current state are unaffected —
    the retention trade is only how far back time travel reaches.
    """
    import shutil

    keep_last = max(1, keep_last)
    committed = _versions(state_dir)
    keep = set(committed[-keep_last:])
    deleted = []
    for v in _all_versions(state_dir):
        if v in keep:
            continue
        shutil.rmtree(os.path.join(state_dir, f"v={v}"), ignore_errors=True)
        deleted.append(v)
    return deleted


def refresh_agg_state(
    spark: SparkSession,
    state_dir: str,
    new_slice: DataFrame,
    keys: list[str],
    measures: list[str],
    batch_id: int | None = None,
) -> DataFrame:
    """Fold one new data slice into the persisted state; returns the new
    state. Cost is O(slice + state), independent of how much history the
    state summarizes — the whole point.

    The new version is published by :func:`publish_version`, so a
    concurrent reader either sees the old state or the complete new one —
    never a half-written directory.
    """
    delta = partial_agg_state(new_slice, keys, measures)
    prev = read_agg_state(spark, state_dir)
    merged = delta if prev is None else merge_agg_states(prev, delta, keys, measures)
    v = publish_version(state_dir, merged, {"batch_id": batch_id})
    return spark.read.parquet(os.path.join(state_dir, f"v={v}"))


def apply_stream_batch(
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    keys: list[str],
    measures: list[str],
) -> bool:
    """One foreachBatch application with the replay guard; returns whether
    the batch was folded in (False = replay of an already-applied batch)."""
    last = last_batch_id(state_dir)
    if last is not None and batch_id <= last:
        return False  # replayed batch — its rows are already in the state
    refresh_agg_state(
        batch_df.sparkSession, state_dir, batch_df, keys, measures,
        batch_id=batch_id,
    )
    return True


def stream_refresh_agg_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    measures: list[str],
):
    """Streaming materialized view: every micro-batch folds into the
    persisted aggregate state via ``refresh_agg_state`` — the streaming
    twin of the batch refresh, composing foreachBatch with the same
    merge-of-partials. Because the merge is algebraic and
    order-independent (decimal sums), the state converges to the batch
    answer regardless of how the stream slices the data — pinned in
    tests/test_incremental.py.

    foreachBatch is AT-LEAST-once: the checkpoint dedupes source offsets,
    not sink side effects, and this additive state is not idempotent on
    its own. Idempotence comes from the commit marker's recorded batch id:
    a batch whose id is ≤ the last committed one already reached the
    state, so the replay is skipped.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_stream_batch(state_dir, batch_df, batch_id, keys, measures)

    return start_foreach_batch(stream, checkpoint_dir, apply_batch)


def start_foreach_batch(stream: DataFrame, checkpoint_dir: str, apply_batch):
    """Start ``apply_batch`` as the foreachBatch sink of ``stream`` under
    an availableNow trigger (drain what exists, then stop) — the shared
    starter of the versioned streaming sinks and of the ledger folds
    (streaming/state.start_ledger_stream)."""
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
