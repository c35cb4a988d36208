"""Streaming parity: the readStream plans converge to the batch answers
(SURVEY §5.5), plus watermark late-data and streaming-dedup behavior."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row

from mongo_to_parquet_spark.queries.stream import QUERIES as BATCH_Q
from mongo_to_parquet_spark.streaming import windows as sw


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    batch = {
        (r["bucket_start"], r["event_type"]): (r["cnt"], r["sum_val"])
        for r in BATCH_Q["q_stream_tumbling"](spark, sf_dir).collect()
    }
    # replay files are not time-ordered → watermark must exceed the replay
    # disorder for an exact-parity run (late-drop is tested separately)
    stream = sw.tumbling_counts(sw.replay_events(spark, sf_dir), watermark="35 days")
    rows = sw.run_to_completion(stream, mode="complete")
    got = {(r["bucket_start"], r["event_type"]): (r["cnt"], r["sum_val"]) for r in rows}
    assert got == batch


def test_streaming_sliding_matches_batch(spark, sf_dir):
    batch = {
        (r["bucket_start"]): (r["cnt"], r["sum_val"])
        for r in BATCH_Q["q_stream_sliding"](spark, sf_dir).collect()
    }
    stream = sw.sliding_counts(sw.replay_events(spark, sf_dir), watermark="35 days")
    rows = sw.run_to_completion(stream, mode="complete")
    got = {r["bucket_start"]: (r["cnt"], r["sum_val"]) for r in rows}
    assert got == batch


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    batch = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in BATCH_Q["q_stream_sessionize"](spark, sf_dir).collect()
    }
    stream = sw.sessionized(sw.replay_events(spark, sf_dir), watermark="35 days")
    rows = sw.run_to_completion(stream, mode="complete")
    got = {(r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"]) for r in rows}
    assert got == batch


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    """The hand-written applyInPandasWithState sessionizer agrees with the
    batch gap-and-island answer: every emitted session matches exactly, and
    every session that can be closed (all but each user's final one, which
    may still be open at the final watermark) IS emitted."""
    from mongo_to_parquet_spark.streaming import stateful

    batch = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in BATCH_Q["q_stream_sessionize"](spark, sf_dir).collect()
    }
    stream = stateful.sessionize_stateful(
        sw.replay_events(spark, sf_dir), gap_minutes=30, watermark="1 minute"
    )
    rows = sw.run_to_completion(stream, mode="append")
    got = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in rows
    }
    assert len(got) == len(rows), "a session was emitted twice"
    for k, v in got.items():
        assert batch[k] == v, f"session {k}: stream={v} batch={batch[k]}"
    last_start = {}
    for u, s in batch:
        last_start[u] = max(last_start.get(u, s), s)
    required = {(u, s) for (u, s) in batch if s != last_start[u]}
    assert required <= set(got)


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    # two files so the duplicate arrives in a later micro-batch
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    f1 = spark.createDataFrame(
        [Row(event_id=1, ts=base, v=1.0), Row(event_id=2, ts=base + dt.timedelta(minutes=1), v=2.0)]
    )
    f2 = spark.createDataFrame(
        [Row(event_id=1, ts=base + dt.timedelta(minutes=2), v=9.9),  # dup id within watermark
         Row(event_id=3, ts=base + dt.timedelta(minutes=3), v=3.0)]
    )
    d = str(tmp_path / "stream_in")
    f1.coalesce(1).write.mode("append").parquet(d)
    f2.coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(f1.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = sw.run_to_completion(sw.dedup_within_watermark(stream, watermark="1 hour"))
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, pinned precisely: a window's state is evicted
    and emitted (exactly once) when the watermark passes its end; a row
    arriving AFTER that eviction is dropped — it neither merges nor
    re-emits the window. (A "late" row arriving while the state still
    lives DOES merge — eviction, not arrival time, defines late.)"""
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(eid, minutes):
        return Row(
            event_id=eid, ts=base + dt.timedelta(minutes=minutes),
            user_id=1, event_type="A", value=1.0, props="{}",
        )

    d = str(tmp_path / "late_in")
    files = [
        [mk(1, 10), mk(2, 20), mk(3, 150)],  # noon rows; max 14:30 → wm 13:30
        [mk(5, 170)],   # batch 1 runs with wm 13:30 → evicts + emits noon
        [mk(4, 40)],    # late noon row, arrives after eviction → dropped
    ]
    for rows in files:
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    rows = sw.run_to_completion(sw.tumbling_counts(stream, watermark="1 hour"))
    noon = int(base.timestamp())
    emitted = [(r["bucket_start"], r["cnt"]) for r in rows if r["bucket_start"] == noon]
    # exactly one emission, with exactly the on-time rows
    assert emitted == [(noon, 2)]


def test_streaming_export_incremental_exactly_once(spark, tmp_path):
    """The streaming export job is the reference's export run
    incrementally: each run exports only new files, a re-run with nothing
    new writes nothing, and the cumulative output has no dupes and no
    gaps — offsets live in the checkpoint."""
    import time

    from mongo_to_parquet_spark.streaming.export import stream_export_partitioned

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def mk(eid, year):
        return Row(
            _id=f"oid{eid}",
            event_id=eid,
            created_at=dt.datetime(year, 6, 1),
            v=float(eid),
        )

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_export_partitioned(stream, out, ckpt, date_field="created_at")
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame([mk(1, 2020), mk(2, 2021)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    first = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in first.collect()) == [1, 2]
    assert {r["year"] for r in first.select("year").collect()} == {"2020", "2021"}

    run()  # nothing new → nothing written, nothing duplicated
    assert spark.read.parquet(out).count() == 2

    time.sleep(1.1)
    spark.createDataFrame([mk(3, 2020)]).coalesce(1).write.mode("append").parquet(src)
    run()  # only the new file exports
    final = spark.read.parquet(out)
    assert sorted(r["event_id"] for r in final.collect()) == [1, 2, 3]
    assert "_id" not in final.columns  # dropped like the batch export


def test_running_user_stats_converges_to_batch(spark, sf_dir):
    """The transformWithStateInPandas profile operator: after draining the
    replay, each user's LAST emission equals the batch per-user totals.
    Requires google.protobuf (the TWS Python runner imports it) and the
    RocksDB state store — skipped where the dependency is absent."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import stateful

    batch = {
        r["user_id"]: (r["cnt"], r["sum_val"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_val"))
        .collect()
    }
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stateful.running_user_stats(sw.replay_events(spark, sf_dir))
        rows = sw.run_to_completion(stream, mode="update")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
    last = {}
    for r in rows:  # batches arrive in order; later emissions overwrite
        last[r["user_id"]] = (r["cnt"], r["sum_val"])
    assert set(last) == set(batch)
    for u, (cnt, total) in batch.items():
        got_cnt, got_total = last[u]
        assert got_cnt == cnt
        assert got_total == pytest.approx(total, rel=1e-9)  # summation order differs


def test_stream_stream_range_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream join converges to the batch
    theta-range answer: identical (id1, id2, delta) pair set."""
    from mongo_to_parquet_spark.queries.relational import QUERIES as RQ
    from mongo_to_parquet_spark.streaming import joins as sj

    batch = {
        (r["id1"], r["id2"], r["delta_us"])
        for r in RQ["q_join_theta_range"](spark, sf_dir).collect()
    }
    stream = sj.stream_event_pairs(sw.replay_events(spark, sf_dir), band_minutes=5)
    rows = sw.run_to_completion(stream, mode="append")
    got = {(r["id1"], r["id2"], r["delta_us"]) for r in rows}
    assert got == batch


def test_stream_interval_overlap_matches_batch(spark, sf_dir):
    """The bounded-span stream-stream INTERVAL join emits exactly the
    batch grid-cell operator's pair set: per-event intervals
    [ts, ts + (event_id % 7) min] per user, overlap pairs compared as
    sets (the batch side is itself property-tested ≡ naive)."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.rangejoin import interval_overlap_pairs
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import joins as sj

    def to_intervals(df):
        return df.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("iv_id"),
            F.col("ts").alias("s_ts"),
            (F.col("ts") + (F.col("event_id") % 7) * F.expr("INTERVAL 1 MINUTE"))
            .alias("e_ts"),
        )

    b = to_intervals(load_table(spark, sf_dir, "events")).select(
        "k",
        "iv_id",
        F.unix_micros(F.col("s_ts").cast("timestamp")).alias("s_us"),
        F.unix_micros(F.col("e_ts").cast("timestamp")).alias("e_us"),
    )
    batch = {
        (r["k"], r["id1"], r["id2"], r["overlap_us"])
        for r in interval_overlap_pairs(
            b, cell_us=120_000_000, key_col="k", id_col="iv_id"
        ).collect()
    }
    stream = sj.stream_interval_overlap(
        to_intervals(sw.replay_events(spark, sf_dir)), max_span_minutes=7
    )
    got = {
        (r["k"], r["id1"], r["id2"], r["overlap_us"])
        for r in sw.run_to_completion(stream, mode="append")
    }
    assert got == batch
    assert len(got) > 0


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Left-outer stream-stream join: matched rows pair normally;
    unmatched rows emit null-padded, but only after the watermark passes
    the end of their join window (a match could still arrive before)."""
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(eid, minutes, uid=1):
        return Row(
            event_id=eid, ts=base + dt.timedelta(minutes=minutes),
            user_id=uid, event_type="A", value=1.0, props="{}",
        )

    d = str(tmp_path / "oj_in")
    files = [
        [mk(1, 0), mk(2, 3)],      # pair (1,2): Δ=3min within band
        [mk(3, 30, uid=2)],        # lone event, other user
        [mk(4, 300)],              # far future: advances watermark past
                                   # every earlier join window → flushes
                                   # the unmatched rows
    ]
    for rows in files:
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    from mongo_to_parquet_spark.streaming import joins as sj

    rows = sw.run_to_completion(
        sj.stream_event_pairs_outer(stream, band_minutes=5, watermark="1 minute")
    )
    got = {(r["id1"], r["id2"], r["delta_us"]) for r in rows}
    assert (1, 2, 180_000_000) in got          # the real pair
    assert (2, None, None) in got              # no later event within 5min
    assert (3, None, None) in got              # lone user
    # eid=4's window never closes before the stream ends → it may be absent
    assert {(r[0]) for r in got} >= {1, 2, 3}


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment: replaying events joined to a
    static per-user dim equals the batch left join, row for row."""
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import joins as sj

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("user_id")
        .count()
        .selectExpr("user_id", "concat('tier', cast(count % 3 as string)) as tier")
    )
    batch = {
        (r["event_id"]): r["tier"]
        for r in load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .select("event_id", "tier")
        .collect()
    }
    stream = sj.enrich_stream(sw.replay_events(spark, sf_dir), dim).select(
        "event_id", "tier"
    )
    rows = sw.run_to_completion(stream, mode="append")
    got = {r["event_id"]: r["tier"] for r in rows}
    assert got == batch


def test_state_store_reader_exposes_window_state(spark, tmp_path):
    """Operational surface: the streaming state store is directly
    queryable with the Spark 4 statestore reader — the debugging path for
    'what is this job holding in state' at 100 TB (state size, hot keys)
    without touching the running query."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_id=i, ts=base + dt.timedelta(minutes=10 * i), user_id=1,
            event_type="A", value=1.0, props="{}")
        for i in range(12)  # spans two 1-hour windows
    ]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    agg = sw.tumbling_counts(stream, watermark="10 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sst")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    state = spark.read.format("statestore").load(ckpt)
    # one state row per (window, event_type) group; counts match the data
    cnts = sorted(
        r["value"]["count(1)"] if "count(1)" in r["value"].asDict() else r["value"][1]
        for r in state.select("value").collect()
    )
    assert len(cnts) == 2
    assert sum(cnts) == 12


def test_stream_cdc_apply_matches_batch_apply_cdc(spark, sf_dir, tmp_path):
    """Streaming CDC materialization == batch apply_cdc over the full log:
    latest op per key wins across micro-batches, delete-last keys are
    absent, replays never regress the state."""
    import os

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.incremental import _versions
    from mongo_to_parquet_spark.operators.merge import apply_cdc
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import windows as sw
    from mongo_to_parquet_spark.streaming.export import stream_cdc_apply

    def to_log(df):
        return df.select(
            "user_id",
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "value",
        )

    state = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run():
        q = stream_cdc_apply(
            to_log(sw.replay_events(spark, sf_dir)),
            state,
            ckpt,
            keys=["user_id"],
            seq_cols=["ts", "event_id"],
        )
        q.awaitTermination(180)
        q.stop()

    run()
    assert len(_versions(state)) >= 2  # multiple micro-batches folded
    v = _versions(state)[-1]
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in spark.read.parquet(os.path.join(state, f"v={v}")).collect()
    }
    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in apply_cdc(
            to_log(load_table(spark, sf_dir, "events")),
            keys=["user_id"],
            seq_cols=["ts", "event_id"],
        ).collect()
    }
    assert got == want
    # restart with nothing new: checkpoint makes it a no-op on the state
    run()
    v2 = _versions(state)[-1]
    got2 = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in spark.read.parquet(os.path.join(state, f"v={v2}")).collect()
    }
    assert got2 == want


def test_stream_drift_cube_converges_to_batch_psi(spark, sf_dir, tmp_path):
    # streaming drift monitor: each micro-batch folds its (type, bucket,
    # period) counts into the versioned aggregate state; PSI computed from
    # the final state equals the one-pass batch q_drift_psi exactly
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators import incremental
    from mongo_to_parquet_spark.queries import curation
    from mongo_to_parquet_spark.queries.curation import QUERIES as CUR_Q

    stream = sw.replay_events(spark, sf_dir)
    ts_norm = (
        F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        if dict(stream.dtypes).get("ts") == "bigint"
        else F.col("ts")
    )
    binned = stream.withColumn("__ts", ts_norm).select(
        "event_type",
        curation.drift_bucket().alias("bucket"),
        curation.drift_is_ref("__ts").alias("is_ref"),
    )
    state_dir, ck = str(tmp_path / "drift_state"), str(tmp_path / "ck")
    q = incremental.stream_refresh_agg_state(
        binned, state_dir, ck, keys=["event_type", "bucket", "is_ref"], measures=[]
    )
    q.awaitTermination(120)
    state = incremental.read_agg_state(spark, state_dir)
    counts = state.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("is_ref"), F.col("n_rows")).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("n_rows"))).alias("n_cur"),
    )
    got = {
        r["event_type"]: (r["n_ref"], r["n_cur"], r["psi"])
        for r in curation.psi_from_counts(counts).collect()
    }
    batch = {
        r["event_type"]: (r["n_ref"], r["n_cur"], r["psi"])
        for r in CUR_Q["q_drift_psi"](spark, sf_dir).collect()
    }
    assert got == batch


def test_stream_kmv_fold_converges_to_batch_sketch(spark, sf_dir, tmp_path):
    """Streaming KMV distinct-count fold: the micro-batch-folded k-smallest
    state must equal the batch sketch BIT-FOR-BIT (union+truncate is
    associative/commutative), the estimate must equal the declared
    q_agg_approx_distinct twin exactly, and re-folding the same data with
    a fresh checkpoint must be a no-op (the ledger skips every committed
    batch id)."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.functions import sketch as _sk
    from mongo_to_parquet_spark.queries.relational import QUERIES as REL_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import sketches as sk
    from mongo_to_parquet_spark.streaming import state as st

    state, ck1 = str(tmp_path / "kmv_state"), str(tmp_path / "ck1")
    q = sk.stream_kmv_distinct(
        sw.replay_events(spark, sf_dir), "user_id", state, ck1
    )
    q.awaitTermination(120)

    # state == the batch k-smallest distinct hash set, exactly
    batch_k = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(_sk.kmv_hash(F.col("user_id")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_sk.DEFAULT_K)
    )
    got_state = sorted(
        r["h"] for r in st.read_latest(spark, state, "kmv", "h bigint").collect()
    )
    assert got_state == sorted(r["h"] for r in batch_k.collect())

    # estimate == the declared twin's answer
    est = sk.read_kmv_estimate(spark, state).collect()[0]["approx_users"]
    batch_est = REL_Q["q_agg_approx_distinct"](spark, sf_dir).collect()[0][
        "approx_users"
    ]
    assert est == batch_est

    # replay the whole stream again (fresh checkpoint): state unchanged
    q2 = sk.stream_kmv_distinct(
        sw.replay_events(spark, sf_dir), "user_id", state, str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    again = sorted(
        r["h"] for r in st.read_latest(spark, state, "kmv", "h bigint").collect()
    )
    assert again == got_state


def _batch_dirs(state: str, sub: str) -> list[str]:
    import os

    names = os.listdir(os.path.join(state, sub))
    return sorted(d for d in names if d.startswith("batch="))


def test_stream_kmv_torn_batch_is_invisible(spark, sf_dir, tmp_path):
    """Ledger crash contract for the KMV fold: after a drained stream the
    vacuum has left exactly one ``kmv/batch=`` version, and a torn batch —
    a ``kmv/batch=<last+1>`` dir written without its ledger marker (a
    crash before the commit) — changes no reader's answer."""
    import os

    from mongo_to_parquet_spark.streaming import sketches as sk
    from mongo_to_parquet_spark.streaming import state as st

    state = str(tmp_path / "kmv_state")
    q = sk.stream_kmv_distinct(
        sw.replay_events(spark, sf_dir), "user_id", state, str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    last = st.last_committed(state)
    assert last >= 1  # the fold really was incremental
    assert _batch_dirs(state, "kmv") == [f"batch={last}"]
    est = sk.read_kmv_estimate(spark, state).collect()

    # torn batch: a one-row state for last+1 that never got its marker
    spark.createDataFrame([(1,)], "h bigint").write.parquet(
        os.path.join(state, "kmv", f"batch={last + 1}")
    )
    assert st.last_committed(state) == last
    assert sk.read_kmv_estimate(spark, state).collect() == est


def test_stream_multi_sketch_atomic_fold(spark, sf_dir, tmp_path):
    """Three sketches (idempotent KMV + additive CMS + additive histogram)
    folded in ONE stream pass with one commit per batch: every table must
    equal its batch-computed counterpart exactly, and a full replay under
    a fresh checkpoint must change NOTHING — the single ledger marker
    commits after every sketch is written, and committed batch ids are
    skipped, so the additive folds cannot double-count."""
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import sketches as sk
    from mongo_to_parquet_spark.streaming import state as st

    state = str(tmp_path / "ms_state")
    q = sk.stream_multi_sketch(
        sw.replay_events(spark, sf_dir), "user_id", "event_type", "value",
        state, str(tmp_path / "ck1"), hist_step=10.0,
    )
    q.awaitTermination(120)

    ev = load_table(spark, sf_dir, "events")
    want = sk.multi_sketch_batch(ev, "user_id", "event_type", "value", 10.0)
    got = sk.read_multi_sketch(spark, state)

    assert sorted(r["h"] for r in got["kmv"].collect()) == sorted(
        r["h"] for r in want["kmv"].collect()
    )
    cms_key = lambda r: (r["i"], r["b"], r["c"])  # noqa: E731
    assert sorted(map(cms_key, got["cms"].collect())) == sorted(
        map(cms_key, want["cms"].collect())
    )
    hist_key = lambda r: (r["bin"], r["c"])  # noqa: E731
    assert sorted(map(hist_key, got["hist"].collect())) == sorted(
        map(hist_key, want["hist"].collect())
    )
    n_batches = len(st.ledger_ids(state))
    assert n_batches >= 2  # the fold really was incremental

    # whole-stream replay, fresh checkpoint: ledger short-circuits every
    # batch id, so even the ADDITIVE sketches stay bit-identical
    q2 = sk.stream_multi_sketch(
        sw.replay_events(spark, sf_dir), "user_id", "event_type", "value",
        state, str(tmp_path / "ck2"), hist_step=10.0,
    )
    q2.awaitTermination(120)
    got2 = sk.read_multi_sketch(spark, state)
    assert sorted(map(cms_key, got2["cms"].collect())) == sorted(
        map(cms_key, want["cms"].collect())
    )
    assert sorted(map(hist_key, got2["hist"].collect())) == sorted(
        map(hist_key, want["hist"].collect())
    )
    assert len(st.ledger_ids(state)) == n_batches


def test_multi_sketch_torn_batch_is_invisible(spark, sf_dir, tmp_path):
    """Ledger crash contract for the multi-sketch fold: the vacuum leaves
    exactly one ``batch=`` version per sketch, and a batch torn halfway
    through its writes — only ``cms/batch=<last+1>`` on disk, no kmv,
    hist or marker — leaves every sketch table unchanged."""
    import os

    from mongo_to_parquet_spark.streaming import sketches as sk
    from mongo_to_parquet_spark.streaming import state as st

    state = str(tmp_path / "ms_state")
    q = sk.stream_multi_sketch(
        sw.replay_events(spark, sf_dir), "user_id", "event_type", "value",
        state, str(tmp_path / "ck1"), hist_step=10.0,
    )
    q.awaitTermination(120)
    last = st.last_committed(state)
    for sub in ("kmv", "cms", "hist"):
        assert _batch_dirs(state, sub) == [f"batch={last}"]

    def snapshot():
        return {
            name: sorted(map(tuple, df.collect()))
            for name, df in sk.read_multi_sketch(spark, state).items()
        }

    want = snapshot()
    torn = spark.createDataFrame([(0, 0, 10**6)], "i int, b bigint, c bigint")
    torn.write.parquet(os.path.join(state, "cms", f"batch={last + 1}"))
    assert snapshot() == want


def test_streaming_window_topk_chained_aggregation(spark, sf_dir):
    """Chained stateful aggregation (count-per-window -> top-k-per-window):
    every emitted row matches the batch top-k, and every bucket certainly
    closed by the watermark is emitted (append mode only flushes closed
    windows, so the comparison is watermark-aware rather than complete)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from mongo_to_parquet_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("w").orderBy(F.desc("cnt"), F.asc("event_type"))
        ),
    ).filter(F.col("rank") <= 3)
    batch = {
        (r["bs"], r["rank"]): (r["event_type"], r["cnt"])
        for r in ranked.select(
            F.unix_timestamp("w.start").alias("bs"), "rank", "event_type", "cnt"
        ).collect()
    }
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]

    stream = sw.window_topk(sw.replay_events(spark, sf_dir), k=3, watermark="2 hours")
    rows = sw.run_to_completion(stream, mode="append")
    got = {(r["bucket_start"], r["rank"]): (r["event_type"], r["cnt"]) for r in rows}

    assert got, "append-mode stream emitted nothing"
    for key, val in got.items():
        assert batch[key] == val, f"stream diverges from batch at {key}"
    # buckets whose window end precedes the final watermark MUST be flushed
    closed = {
        k for k in batch if k[0] + 3600 <= max_ts - 7200 - 3600
    }
    assert closed <= got.keys()


def test_stream_dedup_incremental_converges_to_batch_pairs(spark, sf_dir, tmp_path):
    """Streaming incremental dedup: cumulative per-batch pairs equal the
    corpus-wide q_dedup_minhash_md5 batch answer (each pair is emitted
    exactly when its later member arrives — index probe for cross-batch
    pairs, delta self-join for same-batch ones); a full replay against a
    fresh checkpoint is a no-op (ledger markers skip committed batches);
    and a torn batch (marker deleted → artifacts invisible) is recommitted
    identically by the next run."""
    import os

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import dedup as sd
    from mongo_to_parquet_spark.streaming import state as sst

    src = str(tmp_path / "docs_src")
    load_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4
    ).write.parquet(src)

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sd.stream_dedup_incremental(stream, state, ck, threshold=0.8)
        q.awaitTermination(300)

    state = str(tmp_path / "state")
    run(str(tmp_path / "ck1"))

    want = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in LLM_Q["q_dedup_minhash_md5"](spark, sf_dir).collect()
    )
    got = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in sd.read_incremental_pairs(spark, state).collect()
    )
    assert len(want) > 0
    assert got == want

    # replay, fresh checkpoint: every batch skips on its ledger marker
    run(str(tmp_path / "ck2"))
    again = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in sd.read_incremental_pairs(spark, state).collect()
    )
    assert again == got

    # torn batch: delete the last marker — its pairs leave the committed
    # view (crash-consistent read) — then a fresh run recommits it
    last = max(sst.ledger_ids(state))
    os.remove(os.path.join(state, "ledger", str(last)))
    partial = sd.read_incremental_pairs(spark, state)
    assert partial.count() <= len(got)
    run(str(tmp_path / "ck3"))
    final = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in sd.read_incremental_pairs(spark, state).collect()
    )
    assert final == want


def test_stream_heavy_hitters_containment_and_bounds(spark, tmp_path):
    """The streaming Misra-Gries fold keeps every true phi-heavy item and
    honest lower bounds: for k=4 counters, any item with count > n/5 must
    survive the folds, every retained lb satisfies lb <= true <= lb +
    n/5, the state stays <= k rows, and the folded n is exact. The
    corpus is skewed on purpose (hot=50%, warm=25%, singleton tail) and
    split across micro-batches so compaction fires mid-stream."""
    import time
    from collections import Counter

    from mongo_to_parquet_spark.streaming import sketches as sk

    batches = [
        ["hot"] * 20 + ["warm"] * 10 + [f"t{i}" for i in range(10)],
        ["hot"] * 15 + ["warm"] * 8 + [f"u{i}" for i in range(7)],
        ["hot"] * 15 + ["warm"] * 7 + [f"v{i}" for i in range(8)],
    ]
    d = str(tmp_path / "hh_in")
    for items in batches:
        spark.createDataFrame(
            [Row(item=i) for i in items], "item string"
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("item string").option("maxFilesPerTrigger", 1).parquet(d)
    )
    state = str(tmp_path / "hh_state")
    q = sk.stream_heavy_hitters(
        stream, "item", state, str(tmp_path / "hh_ck"), k=4
    )
    q.awaitTermination(300)

    truth = Counter(i for b in batches for i in b)
    n = sum(truth.values())
    got = {r["item"]: (r["lb"], r["n"]) for r in
           sk.read_heavy_hitters(spark, state).collect()}
    assert len(got) <= 4
    assert all(gn == n for _, gn in got.values())
    slack = n / 5
    for item, true_c in truth.items():
        if true_c > slack:
            assert item in got, f"phi-heavy {item} evicted"
    for item, (lb, _) in got.items():
        assert lb <= truth[item] <= lb + slack


def test_stream_fixity_equals_batch_and_replay_safe(spark, tmp_path):
    """Streaming fixity digests: (1) after folding all micro-batches the
    state equals fixity_batch over the union (order-insensitive additive
    algebra), (2) a full replay under a FRESH checkpoint changes nothing
    (batch-id ledger absorbs the double-fold), (3) digests detect a
    tampered copy (one payload edit moves exactly one partition)."""
    import time

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.functions import sketch as _sk
    from mongo_to_parquet_spark.streaming import sketches as sk

    batches = [
        [(1, 1995, "a"), (2, 1995, "b"), (3, 1996, "c")],
        [(4, 1996, "d"), (5, 1997, "e")],
        [(6, 1995, "f"), (7, 1997, "g"), (8, 1997, "h")],
    ]
    d = str(tmp_path / "fx_in")
    for rows in batches:
        spark.createDataFrame(rows, "k long, yr long, s string").coalesce(
            1
        ).write.mode("append").parquet(d)
        time.sleep(1.1)
    part = F.col("yr")
    payload = F.concat_ws("|", F.col("k").cast("string"), F.col("s"))

    stream = (
        spark.readStream.schema("k long, yr long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    state = str(tmp_path / "fx_state")
    sk.stream_fixity(stream, part, payload, state, str(tmp_path / "fx_ck1")
                     ).awaitTermination(300)

    whole = spark.createDataFrame(
        [r for b in batches for r in b], "k long, yr long, s string"
    )
    want = {
        r["part"]: (r["n_rows"], r["checksum"])
        for r in _sk.fixity_batch(whole, part, payload)
        .select("part", "n_rows", _sk.fixity_checksum(F.col("vsum")).alias("checksum"))
        .collect()
    }
    got = {
        r["part"]: (r["n_rows"], r["checksum"])
        for r in sk.read_fixity(spark, state).collect()
    }
    assert got == want and len(got) == 3

    # (2) replay everything under a fresh checkpoint: ledger makes it a no-op
    stream2 = (
        spark.readStream.schema("k long, yr long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    sk.stream_fixity(stream2, part, payload, state, str(tmp_path / "fx_ck2")
                     ).awaitTermination(300)
    again = {
        r["part"]: (r["n_rows"], r["checksum"])
        for r in sk.read_fixity(spark, state).collect()
    }
    assert again == got

    # (3) tamper detection: flip one payload byte in one 1996 row
    tampered = whole.withColumn(
        "s", F.when(F.col("k") == 4, F.lit("X")).otherwise(F.col("s"))
    )
    tdig = {
        r["part"]: (r["n_rows"], r["checksum"])
        for r in _sk.fixity_batch(tampered, part, payload)
        .select("part", "n_rows", _sk.fixity_checksum(F.col("vsum")).alias("checksum"))
        .collect()
    }
    assert tdig[1996] != got[1996]
    assert tdig[1995] == got[1995] and tdig[1997] == got[1997]


def test_stream_ann_probe_matches_batch_serving(spark, sf_dir, tmp_path):
    """Streaming ANN serving: every probe answered through the
    micro-batched fold equals the single-probe batch serving path on the
    same static IVF×PQ layout; a full replay against a fresh checkpoint
    is a no-op (ledger markers), and a torn batch leaves the committed
    view and is recommitted identically."""
    import os

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.similarity import (
        build_ivfpq_layout,
        ivfpq_topk_from_layout,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import retrieval as sr
    from mongo_to_parquet_spark.streaming import state as sst

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "layout")
    build_ivfpq_layout(emb, layout)

    probes = emb.filter(F.col("vec_id") < 6).select("vec_id", "embedding")
    src = str(tmp_path / "probes_src")
    probes.repartition(3).write.parquet(src)

    state = str(tmp_path / "state")

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sr.stream_ann_probe(stream, layout, state, ck, k=10, n_probe=4)
        q.awaitTermination(300)

    run(str(tmp_path / "ck1"))

    got = {
        (r["probe_id"], r["vec_id"], r["pq_dist"], r["rk"])
        for r in sr.read_probe_results(spark, state).collect()
    }
    want = set()
    for p in probes.collect():
        single = ivfpq_topk_from_layout(
            spark, layout, [float(x) for x in p["embedding"]],
            k=10, n_probe=4, exclude_id=p["vec_id"],
        )
        for i, r in enumerate(
            sorted(single.collect(), key=lambda r: (r["pq_dist"], r["vec_id"]))
        ):
            want.add((p["vec_id"], r["vec_id"], r["pq_dist"], i + 1))
    assert len(want) == 60  # 6 probes × k=10
    assert got == want

    run(str(tmp_path / "ck2"))  # replay: markers skip every batch
    assert {
        tuple(r) for r in sr.read_probe_results(spark, state).collect()
    } == want

    last = max(sst.ledger_ids(state))
    os.remove(os.path.join(state, "ledger", str(last)))
    assert sr.read_probe_results(spark, state).count() < len(want)
    run(str(tmp_path / "ck3"))
    assert {
        tuple(r) for r in sr.read_probe_results(spark, state).collect()
    } == want


def test_stream_ann_probe_refine_mode_matches_single_refine(spark, sf_dir, tmp_path):
    """The streaming fold's two-stage mode: every probe answered through
    refine_emb equals the single-probe ADC-shortlist → exact-re-rank
    path — exact sims, same ties — through the same exactly-once ledger."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.similarity import (
        build_ivfpq_layout,
        ivfpq_topk_refined_from_layout,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import retrieval as sr
    from mongo_to_parquet_spark.streaming import state as sst

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "layout")
    build_ivfpq_layout(emb, layout)
    probes = emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding")
    src = str(tmp_path / "probes_src")
    probes.repartition(2).write.parquet(src)
    state = str(tmp_path / "state")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sr.stream_ann_probe(
        stream, layout, state, str(tmp_path / "ck"), k=5, n_probe=3,
        refine_emb=emb, shortlist=20,
    )
    q.awaitTermination(300)

    res = spark.read.parquet(
        *[f"{state}/results/batch={b}" for b in sst.ledger_ids(state)]
    )
    got = {
        (r["probe_id"], r["vec_id"], r["sim"], r["rk"]) for r in res.collect()
    }
    want = set()
    for p in probes.collect():
        single = ivfpq_topk_refined_from_layout(
            spark, layout, emb, [float(x) for x in p["embedding"]],
            k=5, shortlist=20, n_probe=3, exclude_id=p["vec_id"],
        )
        for i, r in enumerate(single.collect()):
            want.add((p["vec_id"], r["vec_id"], r["sim"], i + 1))
    assert len(want) == 20 and got == want


def test_stream_decontaminate_matches_batch_key(spark, sf_dir, tmp_path):
    """Streaming decontamination ≡ the batch key: screening the training
    docs micro-batch by micro-batch against the static eval gram table
    yields exactly q_decontaminate_doc's rows; replay against a fresh
    checkpoint is a ledger no-op; a torn batch is invisible then
    recommitted identically."""
    import os

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import decontaminate as sd
    from mongo_to_parquet_spark.streaming import state as sst

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev_path = str(tmp_path / "eval_grams")
    sd.eval_gram_table(docs.filter(F.col("doc_id") % 97 == 0), ev_path, n=5)

    train = docs.filter(F.col("doc_id") % 97 != 0)
    src = str(tmp_path / "train_src")
    train.repartition(4).write.parquet(src)
    state = str(tmp_path / "state")

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sd.stream_decontaminate(stream, ev_path, state, ck, n=5)
        q.awaitTermination(300)

    run(str(tmp_path / "ck1"))
    want = {
        (r["doc_id"], r["n_shared_ngrams"], r["n_eval_docs"])
        for r in queries()["q_decontaminate_doc"](spark, sf_dir).collect()
    }
    got = {tuple(r) for r in sd.read_reports(spark, state).collect()}
    assert got == want and want

    run(str(tmp_path / "ck2"))  # replay: markers skip every batch
    assert {tuple(r) for r in sd.read_reports(spark, state).collect()} == want

    last = max(sst.ledger_ids(state))
    os.remove(os.path.join(state, "ledger", str(last)))
    assert {tuple(r) for r in sd.read_reports(spark, state).collect()} <= want
    run(str(tmp_path / "ck3"))
    assert {tuple(r) for r in sd.read_reports(spark, state).collect()} == want


def _tear_batch(monkeypatch, sst, bid, run) -> None:
    """Run a ledger stream whose batch ``bid`` writes its artifacts and
    then fails before its commit marker is published."""
    publish = sst._publish

    def torn(path, payload):
        if payload["batch_id"] == bid:
            raise RuntimeError(f"torn batch {bid}")
        publish(path, payload)

    monkeypatch.setattr(sst, "_publish", torn)
    with pytest.raises(Exception, match=f"torn batch {bid}"):
        run()
    monkeypatch.setattr(sst, "_publish", publish)


def test_stream_pack_matches_batch_and_replays(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Streaming greedy packing: docs arrive in doc_id order (the
    crawl-append contract) across 4 micro-batches; the union of streamed
    bin assignments must be bit-identical to q_pack_greedy over the same
    corpus (per-shard open-bin state carried between batches). A torn
    last batch (its writes land, its marker does not) stays out of the
    committed view and a fresh run recommits it identically; after the
    drained stream one fill-state version is left on disk. Replay
    against a fresh checkpoint is a no-op."""
    import os
    import time

    import numpy as np

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import pack as sp
    from mongo_to_parquet_spark.streaming import state as sst

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    pdf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    t0 = time.time() - 100
    for i, part in enumerate(np.array_split(pdf, 4)):
        p = os.path.join(src, f"slice-{i}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))  # arrival order = doc_id order

    state = str(tmp_path / "state")

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sp.stream_pack(stream, state, ck)
        q.awaitTermination(300)

    want = sorted(
        (r["shard"], r["doc_id"], r["n_tok"], r["bin_id"])
        for r in LLM_Q["q_pack_greedy"](spark, sf_dir).collect()
    )

    def got():
        return sorted(
            (r["shard"], r["doc_id"], r["n_tok"], r["bin_id"])
            for r in sp.read_assignments(spark, state).collect()
        )

    # torn last batch: batch 3 writes its artifacts, then dies before its
    # marker is published (and before the vacuum that follows a commit)
    _tear_batch(monkeypatch, sst, 3, lambda: run(str(tmp_path / "ck1")))
    assert sst.ledger_ids(state) == [0, 1, 2]
    assert len(got()) < len(want)

    run(str(tmp_path / "ck2"))  # batches 0-2 skip, batch 3 recommits
    assert len(want) > 0 and got() == want
    # cross-batch continuation must actually happen: some bin spans batches
    n_batches = len(sst.ledger_ids(state))
    assert n_batches >= 4
    # superseded fill-state versions are vacuumed; every report stays
    assert _batch_dirs(state, "state") == [f"batch={max(sst.ledger_ids(state))}"]
    assert _batch_dirs(state, "reports") == sorted(
        f"batch={b}" for b in sst.ledger_ids(state)
    )

    run(str(tmp_path / "ck3"))  # replay: every batch skips on its marker
    assert got() == want


def test_stream_mix_converges_to_batch_weights(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Streaming mixture weights: after draining the corpus in 4
    micro-batches (any split — counts are a commutative monoid), the
    committed weights table equals q_mix_temperature over the whole
    corpus; the mid-stream and final snapshots sum to <= 10000 bp; a
    torn last batch is recommitted identically, only the newest state
    and weights versions stay on disk, and replay is a no-op."""
    import os

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import mix as sm
    from mongo_to_parquet_spark.streaming import state as sst

    src = str(tmp_path / "docs_src")
    load_table(spark, sf_dir, "documents").select("source", "text").repartition(
        4
    ).write.parquet(src)

    state = str(tmp_path / "state")

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sm.stream_mix(stream, state, ck)
        q.awaitTermination(300)

    want = sorted(
        (r["source"], r["n_docs"], r["n_tokens"], r["raw_bp"], r["temp_bp"])
        for r in LLM_Q["q_mix_temperature"](spark, sf_dir).collect()
    )

    def got():
        rows = sm.read_weights(spark, state).collect()
        # every committed snapshot is a valid weights table
        assert sum(r["raw_bp"] for r in rows) <= 10000
        assert sum(r["temp_bp"] for r in rows) <= 10000
        return sorted(
            (r["source"], r["n_docs"], r["n_tokens"], r["raw_bp"], r["temp_bp"])
            for r in rows
        )

    last = len([f for f in os.listdir(src) if f.endswith(".parquet")]) - 1
    _tear_batch(monkeypatch, sst, last, lambda: run(str(tmp_path / "ck1")))
    assert sst.ledger_ids(state) == list(range(last))
    assert got() != want  # the mid-stream snapshot of the committed prefix

    run(str(tmp_path / "ck2"))  # torn batch recommitted
    assert len(want) > 1 and got() == want
    assert _batch_dirs(state, "state") == [f"batch={last}"]
    assert _batch_dirs(state, "weights") == [f"batch={last}"]

    run(str(tmp_path / "ck3"))  # replay: markers skip every batch
    assert got() == want


def test_stream_assembly_matches_batch_pipeline(spark, sf_dir, tmp_path):
    """The composed streaming assembly (round-7 verdict #2): gate →
    incremental exact dedup → decontaminate → pack as ONE foreachBatch
    fold under ONE ledger. Docs arrive in doc_id order (the global
    monotone contract — the dedup keeper is the global min per text)
    across 4 micro-batches against the up-front eval gram artifact; the
    committed manifest must equal q_assembly_pipeline over the same
    corpus. Replay against a fresh checkpoint is a no-op; a torn last
    batch (marker deleted) leaves the committed view and is recommitted
    bit-identically."""
    import os
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import assembly as sa
    from mongo_to_parquet_spark.streaming import decontaminate as sd
    from mongo_to_parquet_spark.streaming import state as sst

    # the fixed benchmark artifact: gram table of the eval split
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evp = str(tmp_path / "eval_grams")
    sd.eval_gram_table(docs.filter(F.col("doc_id") % 97 == 0), evp)

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    pdf = docs.toPandas().sort_values("doc_id")
    t0 = time.time() - 100
    for i, part in enumerate(np.array_split(pdf, 4)):
        p = os.path.join(src, f"slice-{i}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))

    state = str(tmp_path / "state")

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sa.stream_assembly(stream, evp, state, ck)
        q.awaitTermination(300)

    run(str(tmp_path / "ck1"))
    want = sorted(
        (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
        for r in LLM_Q["q_assembly_pipeline"](spark, sf_dir).collect()
    )
    got = sorted(
        (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
        for r in sa.read_manifest(spark, state).collect()
    )
    assert len(want) > 0 and got == want
    assert len(sst.ledger_ids(state)) >= 4  # the fold really ran per batch

    run(str(tmp_path / "ck2"))  # replay: every batch skips on its marker
    assert sorted(
        (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
        for r in sa.read_manifest(spark, state).collect()
    ) == want

    last = max(sst.ledger_ids(state))
    os.remove(os.path.join(state, "ledger", str(last)))
    assert sa.read_assignments(spark, state).count() < sum(
        n for _, _, n, _ in want
    )
    run(str(tmp_path / "ck3"))
    assert sorted(
        (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
        for r in sa.read_manifest(spark, state).collect()
    ) == want


def test_stream_dedup_compaction_preserves_pairs_and_bounds_files(
    spark, sf_dir, tmp_path
):
    """Ledger-committed compaction of the incremental-dedup state
    (round-8 verdict #2): a torn compaction (marker deleted) is
    invisible; a committed compaction + vacuum leaves the cumulative
    pairs row-identical while deleting every superseded per-batch dir
    and marker; ingest CONTINUES through the compacted state (new
    batches read compacted(W) + their own prefix) and converges to the
    corpus-wide batch answer; and a whole-stream replay after the
    markers were vacuumed is still a no-op (watermark-implied commit)."""
    import os
    import shutil
    import time

    import numpy as np

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import dedup as sd
    from mongo_to_parquet_spark.streaming import state as sst

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    pdf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    t0 = time.time() - 100
    slices = np.array_split(pdf, 4)

    def add_slice(i):
        p = os.path.join(src, f"slice-{i}.parquet")
        slices[i].to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))

    def run(ck):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sd.stream_dedup_incremental(stream, state, ck, threshold=0.8).awaitTermination(300)

    def pairs():
        return sorted(
            (r["id1"], r["id2"], r["jaccard"])
            for r in sd.read_incremental_pairs(spark, state).collect()
        )

    state = str(tmp_path / "state")
    add_slice(0)
    add_slice(1)
    run(str(tmp_path / "ck1"))
    p1 = pairs()
    assert len(sst.ledger_ids(state)) == 2

    # torn compaction: parquet written, marker removed -> invisible
    w = sd.compact_dedup_state(spark, state, run_vacuum=False)
    assert w == 1
    os.remove(os.path.join(state, "compact", "ledger", str(w)))
    assert pairs() == p1

    # committed compaction + vacuum: views identical, per-batch state gone
    assert sd.compact_dedup_state(spark, state) == 1
    assert pairs() == p1
    for sub in ("index", "docs", "pairs"):
        assert sst._ids_under(state, sub) == []  # all batches superseded
        assert sst._ids_under(os.path.join(state, "compact"), sub) == [1]
    assert sst.ledger_ids(state) == []  # markers vacuumed...
    assert sst.is_committed(state, 0) and sst.is_committed(state, 1)  # ...implicit

    # ingest continues THROUGH the compacted state
    add_slice(2)
    add_slice(3)
    run(str(tmp_path / "ck1"))
    want = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in LLM_Q["q_dedup_minhash_md5"](spark, sf_dir).collect()
    )
    assert len(want) > len(p1) and pairs() == want

    # whole-stream replay, fresh checkpoint: batches 0/1 skip on the
    # watermark (their markers no longer exist), 2/3 on their markers
    run(str(tmp_path / "ck2"))
    assert pairs() == want

    # a second compaction folds compacted(1) + batches 2..3 into one dir
    assert sd.compact_dedup_state(spark, state) == 3
    assert pairs() == want
    for sub in ("index", "docs", "pairs"):
        assert sst._ids_under(state, sub) == []
        assert sst._ids_under(os.path.join(state, "compact"), sub) == [3]
    shutil.rmtree(str(tmp_path / "ck1"))


def test_stream_assembly_compaction_preserves_manifest(spark, sf_dir, tmp_path):
    """compact_assembly_state: the committed manifest is bit-identical
    across compaction+vacuum, the swap-style fill state keeps only its
    newest committed version, and packing CONTINUES from the carried
    fills through the compacted hash state to the exact batch-pipeline
    answer."""
    import os
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import assembly as sa
    from mongo_to_parquet_spark.streaming import decontaminate as sdc
    from mongo_to_parquet_spark.streaming import state as sst

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evp = str(tmp_path / "eval_grams")
    sdc.eval_gram_table(docs.filter(F.col("doc_id") % 97 == 0), evp)

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    pdf = docs.toPandas().sort_values("doc_id")
    t0 = time.time() - 100
    slices = np.array_split(pdf, 4)

    def add_slice(i):
        p = os.path.join(src, f"slice-{i}.parquet")
        slices[i].to_parquet(p, index=False)
        os.utime(p, (t0 + i, t0 + i))

    def run(ck):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sa.stream_assembly(stream, evp, state, ck).awaitTermination(300)

    def manifest():
        return sorted(
            (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
            for r in sa.read_manifest(spark, state).collect()
        )

    state = str(tmp_path / "state")
    add_slice(0)
    add_slice(1)
    run(str(tmp_path / "ck1"))
    m1 = manifest()

    assert sa.compact_assembly_state(spark, state) == 1
    assert manifest() == m1
    for sub in ("hashes", "reports"):
        assert sst._ids_under(state, sub) == []
        assert sst._ids_under(os.path.join(state, "compact"), sub) == [1]
    # swap-style fill state: only the newest committed version remains
    assert sst._ids_under(state, "state") == [1]

    add_slice(2)
    add_slice(3)
    run(str(tmp_path / "ck1"))
    want = sorted(
        (r["shard"], r["bin_id"], r["n_docs"], r["n_tokens"])
        for r in LLM_Q["q_assembly_pipeline"](spark, sf_dir).collect()
    )
    assert len(want) > 0 and manifest() == want

    run(str(tmp_path / "ck2"))  # replay across the vacuumed prefix: no-op
    assert manifest() == want


def test_stream_dedup_in_stream_compaction(spark, sf_dir, tmp_path):
    """compact_every=N folds compaction into the stream itself: after
    draining, the state is compacted (bounded marker count) and the
    cumulative pairs still equal the corpus-wide batch answer."""
    import os

    from mongo_to_parquet_spark.queries.llm import QUERIES as LLM_Q
    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.streaming import dedup as sd
    from mongo_to_parquet_spark.streaming import state as sst

    src = str(tmp_path / "docs_src")
    load_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4
    ).write.parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sd.stream_dedup_incremental(
        stream, state, str(tmp_path / "ck"), threshold=0.8, compact_every=2
    )
    q.awaitTermination(300)
    assert sst.compact_watermark(state) is not None
    assert len(sst.ledger_ids(state)) < 2  # compaction kept markers bounded
    want = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in LLM_Q["q_dedup_minhash_md5"](spark, sf_dir).collect()
    )
    got = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in sd.read_incremental_pairs(spark, state).collect()
    )
    assert len(want) > 0 and got == want


def test_state_compaction_guards(spark, tmp_path):
    """streaming/state.py's contract branches, pinned directly: reading
    'everything below an in-flight batch' refuses a watermark at or past
    that batch (batches must commit in order before they compact);
    compacting below the watermark raises; recompacting an
    already-covered range is a no-op returning None."""
    import json
    import os

    import pytest as pt

    from mongo_to_parquet_spark.streaming import state as sst

    sd = str(tmp_path / "state")
    os.makedirs(os.path.join(sd, "ledger"))
    for b in (0, 1, 2):
        spark.createDataFrame([(b,)], "x bigint").write.parquet(
            os.path.join(sd, "vals", f"batch={b}")
        )
        with open(os.path.join(sd, "ledger", str(b)), "w") as f:
            json.dump({"batch_id": b}, f)

    assert sst.compact(spark, sd, {"vals": "x bigint"}, upto=1) == 1
    # no-op: nothing new at or below the existing watermark
    assert sst.compact(spark, sd, {"vals": "x bigint"}, upto=1) is None
    assert sst.compact(spark, sd, {"vals": "x bigint"}, upto=0) is None
    # all rows still resolve (compacted(1) + batch 2)
    got = sorted(r["x"] for r in sst.read_sub(spark, sd, "vals", "x bigint").collect())
    assert got == [0, 1, 2]
    # the in-flight contract: batch 1 can no longer be "in flight" once
    # the watermark covers it — read_sub(below=1) must refuse loudly
    with pt.raises(ValueError, match="watermark 1 >= in-flight batch 1"):
        sst.read_sub(spark, sd, "vals", "x bigint", below=1)
    # below=3 (a genuinely in-flight later batch) is fine
    got = sorted(
        r["x"]
        for r in sst.read_sub(spark, sd, "vals", "x bigint", below=3).collect()
    )
    assert got == [0, 1, 2]
    # a second compaction covers the rest; vacuum leaves one compacted dir
    assert sst.compact(spark, sd, {"vals": "x bigint"}) == 2
    sst.vacuum(sd, ["vals"])
    assert sst._ids_under(sd, "vals") == []
    assert sst._ids_under(os.path.join(sd, "compact"), "vals") == [2]
    assert sst.is_committed(sd, 0) and sst.last_committed(sd) == 2


def test_commit_markers_keep_their_on_disk_formats(spark, tmp_path):
    """Stores written before the ledger and version commits were shared
    stay readable: hand-written markers in the existing formats — a
    ledger ``{"batch_id": b}``, a state version ``{"version",
    "batch_id"}`` and an artifact ``{"version", "family", ...meta}`` —
    make the ledger stream skip the committed batch and read back
    through last_batch_id / artifact_current / load_artifact; the new
    writers emit byte-identical markers."""
    import json
    import os
    import time

    from mongo_to_parquet_spark.operators import incremental as inc
    from mongo_to_parquet_spark.operators import tokenizer as tok
    from mongo_to_parquet_spark.streaming import state as sst

    def write_marker(path, payload):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(payload, fh)

    def read_text(path):
        with open(path) as fh:
            return fh.read()

    # ledger format: batch 0 committed by hand, batch 1 arrives new
    src = str(tmp_path / "src")
    t0 = time.time() - 100
    for i in (0, 1):
        p = os.path.join(src, f"slice-{i}")
        spark.createDataFrame([(i,)], "x bigint").coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t0 + i, t0 + i))
    state = str(tmp_path / "state")
    write_marker(os.path.join(state, "ledger", "0"), {"batch_id": 0})
    seen = []

    def body(batch_df, bid):
        seen.append(bid)
        return {"rows": batch_df.count()}

    stream = (
        spark.readStream.schema("x bigint")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    sst.start_ledger_stream(
        stream, state, str(tmp_path / "ck"), body
    ).awaitTermination(120)
    assert seen == [1]
    assert sst.ledger_ids(state) == [0, 1] and sst.last_committed(state) == 1
    assert read_text(os.path.join(state, "ledger", "1")) == json.dumps(
        {"batch_id": 1, "rows": 1}
    )

    # version format: committed v=1 by hand plus an orphan v=2
    vs = str(tmp_path / "agg")
    spark.createDataFrame([("a", 1)], "k string, n_rows bigint").write.parquet(
        os.path.join(vs, "v=1")
    )
    write_marker(
        os.path.join(vs, "v=1", inc.COMMIT_MARKER), {"version": 1, "batch_id": 7}
    )
    os.makedirs(os.path.join(vs, "v=2"))
    assert inc.last_batch_id(vs) == 7
    one = spark.createDataFrame([("b",)], "k string")
    assert not inc.apply_stream_batch(vs, one, 7, ["k"], [])  # replay skips
    assert inc.apply_stream_batch(vs, one, 8, ["k"], [])
    assert inc.last_batch_id(vs) == 8
    assert read_text(os.path.join(vs, "v=3", inc.COMMIT_MARKER)) == json.dumps(
        {"version": 3, "batch_id": 8}
    )

    # artifact format: family + training config in the marker
    art = str(tmp_path / "art")
    rows = [(0, "a", "b", "ab", 3)]
    spark.createDataFrame(rows, tok.SCHEMAS["bpe"]).write.parquet(
        os.path.join(art, "v=1")
    )
    write_marker(
        os.path.join(art, "v=1", inc.COMMIT_MARKER),
        {"version": 1, "family": "bpe", "k": 8},
    )
    assert tok.artifact_current(art, "bpe", {"k": 8})
    assert not tok.artifact_current(art, "bpe", {"k": 4})
    got = [tuple(r) for r in tok.load_artifact(spark, art, "bpe").collect()]
    assert got == rows
    assert tok.save_artifact(spark, rows, art, "bpe", meta={"k": 8}) == 2
    assert read_text(os.path.join(art, "v=2", inc.COMMIT_MARKER)) == json.dumps(
        {"version": 2, "family": "bpe", "k": 8}
    )


def test_stream_fed_langid_and_dsir_state_equals_batch_artifact(
    spark, sf_dir, tmp_path
):
    """Round-9 verdict item 7: the langid weight table and the DSIR
    sufficient statistics are plain integer-count tables (algebraic
    monoids), so their artifacts refresh from a STREAM through the same
    apply_stream_batch replay-guarded fold the BPE census uses — and the
    drained state reproduces the batch-trained artifact BIT-FOR-BIT
    (integer counts; weights derive with the identical expression)."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators import incremental
    from mongo_to_parquet_spark.queries.curation import (
        _DSIR_B,
        _dsir_doc_feat,
        dsir_feats_of,
    )
    from mongo_to_parquet_spark.queries.llm import (
        _LID_SCALE,
        _lid_weights,
        lid_trigrams_of,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    src = str(tmp_path / "src")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).repartition(3).write.parquet(src)
    lid_sd = str(tmp_path / "lid_state")
    dsir_sd = str(tmp_path / "dsir_state")

    def fold(batch_df, batch_id):
        incremental.apply_stream_batch(
            lid_sd,
            lid_trigrams_of(batch_df).select("lang", "b"),
            batch_id,
            ["lang", "b"],
            [],
        )
        incremental.apply_stream_batch(
            dsir_sd,
            dsir_feats_of(batch_df).select(
                "f",
                F.when(F.col("lang") == "en", F.col("n"))
                .otherwise(0)
                .alias("ct"),
                F.col("n").alias("cr"),
            ),
            batch_id,
            ["f"],
            ["ct", "cr"],
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # replay guard holds for both states
    some = spark.read.parquet(src).limit(5)
    assert (
        incremental.apply_stream_batch(
            lid_sd,
            lid_trigrams_of(some).select("lang", "b"),
            incremental.last_batch_id(lid_sd),
            ["lang", "b"],
            [],
        )
        is False
    )

    # langid: weights derived from the drained count state == the batch
    # trainer's table, every integer identical
    st = incremental.read_agg_state(spark, lid_sd)
    w = st.select(
        F.col("lang").alias("mlang"), "b", F.col("n_rows").cast("long").alias("cnt")
    )
    tot = w.groupBy("mlang").agg(F.sum("cnt").cast("long").alias("t"))
    got_w = sorted(
        tuple(r)
        for r in w.join(F.broadcast(tot), "mlang")
        .select("mlang", "b", F.expr(f"(cnt * {_LID_SCALE}) div t").alias("wgt"))
        .collect()
    )
    want_w = sorted(tuple(r) for r in _lid_weights(spark, sf_dir).collect())
    assert got_w == want_w

    # DSIR: the drained (f, ct, cr) state == the batch sufficient stats
    dst = incremental.read_agg_state(spark, dsir_sd)
    got_f = sorted(
        (r["f"], int(r["sum_ct"]), int(r["sum_cr"])) for r in dst.collect()
    )
    want_f = sorted(
        tuple(r)
        for r in _dsir_doc_feat(spark, sf_dir)
        .groupBy("f")
        .agg(
            F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("ct"),
            F.sum("n").cast("bigint").alias("cr"),
        )
        .collect()
    )
    assert got_f == want_f
    assert len(got_f) <= _DSIR_B


def test_stream_fed_exact_substr_index_equals_batch(spark, sf_dir, tmp_path):
    """Round-10 verdict item 5: the ExactSubstr first-occurrence index is
    a min-monoid keyed by sha256(window), so it folds from a STREAM
    through the same replay-guarded apply_stream_batch machinery as the
    census/langid/DSIR states — and the drained state reproduces the
    batch-built index BIT-FOR-BIT, serves the incremental cleaner
    identically, and skips replays."""
    import os as _os

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators import dedup, incremental
    from mongo_to_parquet_spark.sources.catalog import load_table

    L = 8
    base = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 != 0
    )
    src = str(tmp_path / "src")
    base.select("doc_id", "text").repartition(4).write.parquet(src)
    sd = str(tmp_path / "xsub_state")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: dedup.exact_substr_stream_fold(sd, b, bid, L)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # replay guard: re-applying the last batch id is a no-op
    assert (
        dedup.exact_substr_stream_fold(
            sd, base.limit(5), incremental.last_batch_id(sd), L
        )
        is False
    )

    streamed = dedup.exact_substr_index_from_state(
        incremental.read_agg_state(spark, sd)
    )
    batch = dedup.exact_substr_index(base, min_tokens=L)
    sp = sorted((r["h"], str(r["kpk"])) for r in streamed.collect())
    bp = sorted((r["h"], str(r["kpk"])) for r in batch.collect())
    assert sp == bp and len(sp) > 0

    # the stream-fed index CLEANS a delta identically to the batch index
    delta = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    got = {
        r["doc_id"]: tuple(r)
        for r in dedup.exact_substr_incremental(
            delta, streamed, min_tokens=L
        ).collect()
    }
    want = {
        r["doc_id"]: tuple(r)
        for r in dedup.exact_substr_incremental(
            delta, batch, min_tokens=L
        ).collect()
    }
    assert got == want

    # version pruning keeps the latest state readable
    incremental.prune_versions(sd, keep_last=1)
    assert incremental.read_agg_state(spark, sd) is not None
    assert _os.path.isdir(sd)
