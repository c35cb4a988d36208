"""Stream-stream joins (the streaming analog of `q_join_theta_range`).

Structured Streaming joins two streams by buffering both sides in the
state store; the watermark plus the event-time range condition bound the
buffer — each side keeps only rows younger than (watermark − range), so
state is O(events within the horizon), not the whole stream. Same-user
event pairs within ``band_minutes`` is the canonical shape (attribution,
sessional co-occurrence).

Scale notes: the join shuffles both streams on ``user_id`` once; a hot
user bounds at events-per-horizon, the same density argument as the
batch banded join (operators/rangejoin.py). Append mode emits a pair as
soon as both rows have arrived — results converge to the batch answer
(tests/test_streaming.py pins set equality over the bounded replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _event_pairs(events: DataFrame, band_minutes: int, watermark: str, how: str):
    """Same-user pairs with 0 < t2 − t1 ≤ band as a stream-stream ``how``
    join, watermarks on BOTH sides (required for state eviction).
    Output: id1, id2, delta_us."""
    a = (
        events.select("event_id", "user_id", "ts")
        .withWatermark("ts", watermark)
        .alias("a")
    )
    b = (
        events.select(
            F.col("event_id").alias("event_id_b"),
            F.col("user_id").alias("user_id_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", watermark)
        .alias("b")
    )
    band = F.expr(f"INTERVAL {band_minutes} MINUTES")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id_b"))
            & (F.col("b.ts_b") > F.col("a.ts"))
            & (F.col("b.ts_b") <= F.col("a.ts") + band),
            how,
        )
        .select(
            F.col("a.event_id").alias("id1"),
            F.col("b.event_id_b").alias("id2"),
            (F.unix_micros(F.col("b.ts_b")) - F.unix_micros(F.col("a.ts"))).alias(
                "delta_us"
            ),
        )
    )


def stream_event_pairs_outer(
    events: DataFrame, band_minutes: int = 5, watermark: str = "10 minutes"
) -> DataFrame:
    """Left-outer variant: every event emits, paired or not.

    The subtle semantics: an unmatched left row CANNOT emit as soon as it
    is seen — a matching right row may still arrive — so the null-padded
    result emits only when the watermark passes the end of the row's join
    window (ts + band). Until then it sits in the state store; the test
    drives this with a bounded replay and checks both the paired set and
    the null-padded remainder.
    """
    return _event_pairs(events, band_minutes, watermark, "left_outer")


def stream_event_pairs(
    events: DataFrame, band_minutes: int = 5, watermark: str = "35 days"
) -> DataFrame:
    """Ordered same-user pairs with 0 < t2 − t1 ≤ band, as a stream-stream
    inner join with watermarks on BOTH sides (required for state
    eviction). Output: id1, id2, delta_us."""
    return _event_pairs(events, band_minutes, watermark, "inner")


def stream_interval_overlap(
    intervals: DataFrame,
    max_span_minutes: int,
    key_col: str = "k",
    id_col: str = "iv_id",
    start_col: str = "s_ts",
    end_col: str = "e_ts",
    watermark: str = "35 days",
) -> DataFrame:
    """Same-key INTERVAL×INTERVAL overlap pairs over a stream of closed
    intervals ``[s_ts, e_ts]`` — the streaming analogue of
    ``operators/rangejoin.interval_overlap_pairs`` (the point-banded
    ``stream_event_pairs`` can't express this shape: overlap is a
    condition on four endpoints, not one time difference).

    State eviction needs an event-time RANGE between the two WATERMARKED
    columns, and raw overlap (``s1 <= e2 AND s2 <= e1``) isn't one — it
    constrains starts against ENDS. The bounded-span trick closes the
    gap: with every span <= D (enforced by filter; a longer interval
    should be chunked upstream, the grid-cell idea in batch), overlap
    implies |s1 − s2| <= D, so the join carries
      - the START-band range (evicts state at watermark − D),
      - the exact overlap check as a residual predicate,
      - ``id1 < id2`` so the self-pair emits once.
    Per-key state is the start-band's interval density — same bound as
    the batch operator's cells, held in the state store instead.

    Output: key, id1, id2, overlap_us (= min(e)−max(s) >= 0).
    """
    src = intervals.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("iv_id"),
        F.col(start_col).alias("s_ts"),
        F.col(end_col).alias("e_ts"),
    ).filter(
        (F.col("e_ts") >= F.col("s_ts"))
        & (
            F.col("e_ts")
            <= F.col("s_ts") + F.expr(f"INTERVAL {max_span_minutes} MINUTES")
        )
    )
    a = src.withWatermark("s_ts", watermark).alias("a")
    b = (
        src.select(
            F.col("k").alias("k_b"),
            F.col("iv_id").alias("iv_id_b"),
            F.col("s_ts").alias("s_ts_b"),
            F.col("e_ts").alias("e_ts_b"),
        )
        .withWatermark("s_ts_b", watermark)
        .alias("b")
    )
    band = F.expr(f"INTERVAL {max_span_minutes} MINUTES")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k_b"))
            & (F.col("b.s_ts_b") >= F.col("a.s_ts") - band)
            & (F.col("b.s_ts_b") <= F.col("a.s_ts") + band)
            & (F.col("a.s_ts") <= F.col("b.e_ts_b"))
            & (F.col("b.s_ts_b") <= F.col("a.e_ts"))
            & (F.col("a.iv_id") < F.col("b.iv_id_b")),
        )
        .select(
            F.col("a.k").alias("k"),
            F.col("a.iv_id").alias("id1"),
            F.col("b.iv_id_b").alias("id2"),
            (
                F.least(
                    F.unix_micros(F.col("a.e_ts").cast("timestamp")),
                    F.unix_micros(F.col("b.e_ts_b").cast("timestamp")),
                )
                - F.greatest(
                    F.unix_micros(F.col("a.s_ts").cast("timestamp")),
                    F.unix_micros(F.col("b.s_ts_b").cast("timestamp")),
                )
            ).alias("overlap_us"),
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static enrichment join (the streaming analog of
    ``q_join_broadcast``): each micro-batch of the stream joins a STATIC
    dimension table — no state store, no watermark requirement, because
    the static side is re-resolvable per batch.

    Physically each micro-batch plans a BroadcastHashJoin against the dim
    snapshot: the stream side never shuffles, which is what makes
    enrichment free at any stream rate as long as the dim broadcasts. At
    100 TB-scale dims (too big to broadcast), pre-bucket the dim on the
    join key and let the batch-side join locality carry over — or invert:
    stream the dim changes and keep the profile in transformWithState
    (streaming/stateful.running_user_stats).
    """
    return events.join(F.broadcast(dim), on, "left")
