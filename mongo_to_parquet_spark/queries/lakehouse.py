"""Lakehouse / table-maintenance queries, round 3.

The reference's export is write-once (main.py:287-309); a real lake needs
the maintenance operators around it: CDC materialization, SCD-2 dimension
merges, time-series downsampling, and embedding compression for the ANN
serving path. Same contract discipline as every family: declarative plans,
oracle-exact determinism, a 100 TB scale note per query.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mongo_to_parquet_spark.sources.catalog import load_table as T, scratch_dir
from mongo_to_parquet_spark.queries._registry import make_registry

QUERIES, ORACLE, q = make_registry()


# ------------------------------------------------------------ CDC apply ----
@q(
    "q_cdc_apply",
    """
    WITH log AS (
        SELECT user_id,
               CASE WHEN event_type = 'signup' THEN 'I'
                    WHEN event_type = 'error' THEN 'D'
                    ELSE 'U' END AS op,
               CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events
    ),
    latest AS (
        SELECT user_id, op, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    )
    SELECT user_id,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           event_id AS last_event_id,
           value
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_apply(spark, sf):
    # CDC log → materialized table state (operators/merge.py apply_cdc):
    # the event stream is read as an I/U/D change feed keyed by user, and
    # the table is each key's LATEST op's payload — keys whose latest op
    # is a delete are absent. The op mapping (signup=insert, error=delete)
    # makes the fixture a deterministic feed.
    #
    # Scale: ONE hash aggregation — max_by(struct(payload), struct(seq))
    # partial-combines map-side, so the shuffle carries one candidate row
    # per (key, partition), never the log; then a filter. The oracle's
    # row_number()-over-window formulation (what most warehouses run)
    # shuffles AND sorts every log row — this shape is why merge-on-read
    # at 100 TB wants the aggregate, not the window.
    from mongo_to_parquet_spark.operators.merge import apply_cdc

    ev = T(spark, sf, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
        "value",
    )
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "ts",
        "event_id",
        "value",
    )
    st = apply_cdc(log, keys=["user_id"], seq_cols=["ts", "event_id"], op_col="op")
    return st.select(
        "user_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        "value",
    )


# ------------------------------------------------------- SCD-2 merge -------
@q(
    "q_merge_scd2_apply",
    """
    WITH dim AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS segment
                 FROM customer),
    upd AS (
        SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment || '_V2' AS segment
        FROM customer WHERE c_custkey % 6 = 0
        UNION ALL
        SELECT CAST(c_custkey AS BIGINT), c_mktsegment
        FROM customer WHERE c_custkey % 6 = 3
        UNION ALL
        SELECT CAST(c_custkey + 10000000 AS BIGINT), 'NEWSEG'
        FROM customer WHERE c_custkey % 50 = 0
    ),
    t AS (SELECT CAST(epoch_us(TIMESTAMP '1990-01-01') AS BIGINT) AS t0,
                 CAST(epoch_us(TIMESTAMP '1998-06-01') AS BIGINT) AS eff)
    SELECT d.k AS c_custkey, d.segment, t0 AS valid_from_us,
           CAST(NULL AS BIGINT) AS valid_to_us, TRUE AS is_current
    FROM dim d LEFT JOIN upd u USING (k) CROSS JOIN t
    WHERE u.segment IS NULL OR u.segment = d.segment
    UNION ALL
    SELECT d.k, d.segment, t0, eff, FALSE
    FROM dim d JOIN upd u USING (k) CROSS JOIN t WHERE u.segment <> d.segment
    UNION ALL
    SELECT d.k, u.segment, eff, CAST(NULL AS BIGINT), TRUE
    FROM dim d JOIN upd u USING (k) CROSS JOIN t WHERE u.segment <> d.segment
    UNION ALL
    SELECT u.k, u.segment, eff, CAST(NULL AS BIGINT), TRUE
    FROM upd u LEFT JOIN dim d USING (k) CROSS JOIN t WHERE d.k IS NULL
    """,
)
def q_merge_scd2_apply(spark, sf):
    # SCD-2 MERGE (operators/merge.py merge_scd2): apply one batch of
    # attribute changes to a validity-interval dimension — changed keys
    # close their current row at the effective ts and append a new open
    # version, no-op updates leave the row untouched, unseen keys insert.
    # Complements q_scd2_history (build history FROM events) with the
    # maintenance op that KEEPS a dimension historized. The update batch is
    # synthesized deterministically from customer (⅙ changed, ⅙ identical
    # = no-op, 1/50 brand-new shifted keys).
    #
    # Scale: the dimension is read once; the current slice left-joins the
    # update batch (broadcast — a merge batch is daily-increment-sized),
    # change detection is null-safe column comparison, and the output is a
    # shuffle-free unionByName of history/kept/new slices. No window, no
    # second pass over the dimension.
    from mongo_to_parquet_spark.operators.merge import merge_scd2

    c = T(spark, sf, "customer").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_mktsegment"
    )
    t0 = F.lit("1990-01-01").cast("timestamp")
    eff = F.lit("1998-06-01").cast("timestamp")
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 6 == 0)
        .select(
            "c_custkey", F.concat("c_mktsegment", F.lit("_V2")).alias("segment")
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 6 == 3).select(
                "c_custkey", F.col("c_mktsegment").alias("segment")
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.lit("NEWSEG").alias("segment"),
            )
        )
        .withColumn("eff", eff)
    )
    out = merge_scd2(
        dim,
        updates,
        keys=["c_custkey"],
        tracked=["segment"],
        effective_col="eff",
    )
    return out.select(
        "c_custkey",
        "segment",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        F.col("valid_to").isNull().alias("is_current"),
    )


# ------------------------------------------------------ OHLC downsample ----
@q(
    "q_ts_ohlc",
    """
    SELECT event_type,
           CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS bucket_us,
           first(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           last(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM events
    GROUP BY 1, 2
    """,
)
def q_ts_ohlc(spark, sf):
    # time-series downsampling to OHLC bars (the storage-shrinking rollup
    # every metrics/tick pipeline runs): per (series, hour bucket), the
    # first/highest/lowest/last observation. first/last are min_by/max_by
    # over the (ts, id) total order — single-pass argmin/argmax aggregates
    # with map-side partial combine, NOT a sort of the series: at 100 TB
    # the shuffle carries one 5-number candidate per (key, partition).
    # Complements q_ts_interpolate (upsample) with the downsample
    # direction; q_agg_time_weighted handles irregular-interval averaging.
    ev = T(spark, sf, "events").select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "value",
    )
    order = F.struct("ts", "event_id")
    return (
        ev.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
        )
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


# -------------------------------------------------- embedding quantization -
@q(
    "q_embed_quantize",
    """
    WITH dims AS (
        SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    rng AS (SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM dims GROUP BY pos)
    SELECT vec_id, pos,
           CAST(CASE WHEN mx = mn THEN 0
                     ELSE LEAST(255, FLOOR((val - mn) * 256.0 / (mx - mn)))
                END AS INT) AS qv
    FROM dims JOIN rng USING (pos)
    """,
)
def q_embed_quantize(spark, sf):
    # int8 scalar quantization (SQ8) — the standard 4× compression of an
    # ANN corpus: per-DIMENSION global [min, max] ranges, each component
    # mapped to its 0..255 bucket by floor((v-mn)·256/(mx-mn)), clamped.
    # floor (not round) keeps the bucket function identical across engines
    # at representable boundaries; all arithmetic is double with one fixed
    # association order, so the hash matches exactly.
    #
    # Scale: the range table is DIM rows (one per dimension) — a global
    # agg whose shuffle is partial-combined to nothing, then BROADCAST
    # back; quantization itself is a map-only projection. At 100 TB this
    # is the layout-prep pass before IVF/PQ serving (operators/similarity
    # consumes the same cell-layout idea); re-ranking reads the fp32
    # vectors for the candidate set only.
    from mongo_to_parquet_spark.operators.similarity import sq8_dims

    return sq8_dims(T(spark, sf, "embeddings"))


# ----------------------------------------------------- multimodal dedup ----
@q(
    "q_mm_dedup",
    """
    SELECT sha256(text) AS payload_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(octet_length(CAST(text AS BLOB))) AS BIGINT) AS n_bytes
    FROM documents GROUP BY sha256(text)
    """,
)
def q_mm_dedup(spark, sf):
    # exact dedup over BINARY media payloads (operators/multimodal
    # attach_binary models docs as image rows; real pipelines point this
    # at the blob column directly): sha256 of the payload bytes groups
    # copies, min-id keeps deterministically, byte size rides along from
    # the typed metadata struct. The oracle hashes the same utf-8 bytes,
    # so the check is end-to-end over the binary path.
    #
    # Scale: identical to q_dedup_exact — the shuffle carries
    # (hash, id, n_bytes), never the payload; a 100 TB media corpus
    # dedups by moving 40-byte rows.
    from mongo_to_parquet_spark.operators import multimodal

    media = multimodal.attach_binary(T(spark, sf, "documents"))
    return media.groupBy(F.sha2(F.col("payload"), 256).alias("payload_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.col("meta.n_bytes")).alias("n_bytes"),
    )


# ----------------------------------------------- perceptual near-dup -------
_PH_DIM = 16   # signature bits (production pHash: 64 over DCT coefficients)
_PH_MOD = 997


@q(
    "q_mm_phash_dedup",
    f"""
    WITH ch AS (
        SELECT doc_id,
               (generate_subscripts(string_split(text, ''), 1) - 1) % {_PH_DIM} AS j,
               ord(unnest(string_split(text, ''))) AS code
        FROM documents
    ),
    feat AS (
        SELECT doc_id, j, CAST(SUM(code) % {_PH_MOD} AS BIGINT) AS s
        FROM ch WHERE code <> 0 GROUP BY doc_id, j
    ),
    bits AS (
        SELECT doc_id, j, s,
               SUM(s) OVER (PARTITION BY doc_id) AS tot
        FROM feat
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN {_PH_DIM} * s >= tot
                             THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id
    ),
    halves AS (
        SELECT doc_id, sig, 0 AS hx, sig % 256 AS hv FROM sig
        UNION ALL
        SELECT doc_id, sig, 1, sig // 256 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
               a.sig AS sig1, b.sig AS sig2
        FROM halves a JOIN halves b
          ON a.hx = b.hx AND a.hv = b.hv AND a.doc_id < b.doc_id
    )
    SELECT id1, id2, CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig1, sig2)) <= 1
    """,
)
def q_mm_phash_dedup(spark, sf):
    # perceptual near-dup over media payloads: a 16-bit pHash-style
    # signature (positional byte-fold features thresholded against their
    # own mean — INTEGER arithmetic end to end, so the signature is
    # hash-exact cross-engine), then hamming≤1 pair mining via the
    # pigeonhole bucket join (two 8-bit chunks — a pair within distance 1
    # must agree on one chunk). The fixture payload is the text's bytes
    # (attach_binary's model); a real pipeline swaps the byte-fold for
    # DCT coefficients and widens to 64 bits — the bucketing, threshold,
    # and verify stages are unchanged (same shape as simhash_table).
    #
    # Scale: features partial-combine to DIM fixed-width rows per doc;
    # the only window runs inside a doc's 16 feature rows; candidate
    # generation never compares all pairs — only same-chunk buckets join,
    # and the exact hamming verify runs on candidates alone.
    d = T(spark, sf, "documents")
    ch = d.select(
        "doc_id", F.posexplode(F.split("text", "")).alias("pos", "c")
    ).filter(F.col("c") != "")
    feat = (
        ch.groupBy("doc_id", (F.col("pos") % _PH_DIM).alias("j"))
        .agg((F.sum(F.ascii("c")) % _PH_MOD).cast("bigint").alias("s"))
    )
    w = Window.partitionBy("doc_id")
    bits = feat.withColumn("tot", F.sum("s").over(w))
    sig = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.lit(_PH_DIM) * F.col("s") >= F.col("tot"),
                F.expr("shiftleft(cast(1 as bigint), cast(j as int))"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("sig")
    )
    halves = sig.select(
        "doc_id", "sig", F.lit(0).alias("hx"), (F.col("sig") % 256).alias("hv")
    ).unionAll(
        sig.select(
            "doc_id", "sig", F.lit(1).alias("hx"), F.expr("sig div 256").alias("hv")
        )
    )
    a = halves.select(
        F.col("doc_id").alias("id1"), F.col("sig").alias("sig1"), "hx", "hv"
    )
    b = halves.select(
        F.col("doc_id").alias("id2"), F.col("sig").alias("sig2"), "hx", "hv"
    )
    cand = (
        a.join(b, ["hx", "hv"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sig1", "sig2")
        .distinct()
    )
    ham = F.bit_count(F.expr("sig1 ^ sig2")).cast("bigint")
    return cand.select("id1", "id2", ham.alias("hamming")).filter(
        F.col("hamming") <= 1
    )


# -------------------------------------------- incremental MV end-to-end ----
def _mv_two_slices(spark, sf, name: str):
    """Wipe the ``name`` state dir under _scratch and fold orders into it
    as two date slices (before 1997 → v=1, the rest → v=2) with
    ``refresh_agg_state``; returns ``(state_dir, final state)``."""
    import shutil

    from mongo_to_parquet_spark.operators import incremental as inc

    state_dir = scratch_dir(name, sf)
    shutil.rmtree(state_dir, ignore_errors=True)
    o = T(spark, sf, "orders")
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    keys, measures = ["o_orderstatus"], ["o_totalprice"]
    inc.refresh_agg_state(
        spark, state_dir, o.filter(F.col("o_orderdate") < cut), keys, measures
    )
    st = inc.refresh_agg_state(
        spark, state_dir,
        o.filter(~(F.col("o_orderdate") < cut) | F.col("o_orderdate").isNull()),
        keys, measures,
    )
    return state_dir, st


@q(
    "q_mv_refresh",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS cnt_p,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_p,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_p,
           MIN(o_totalprice) AS min_p,
           MAX(o_totalprice) AS max_p
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_mv_refresh(spark, sf):
    # the incremental materialized view END-TO-END through the oracle
    # gate (operators/incremental.py): orders arrive as two date slices,
    # each folded into the versioned on-disk aggregate state with
    # refresh_agg_state (commit markers, orphan-safe); the query answers
    # from the FINAL STATE ALONE and must hash-match the oracle's direct
    # aggregate over the full table — refresh ≡ recompute, proven per
    # driver round, not just in unit tests. Sums are DECIMAL(38,6) so the
    # two-slice merge is order-independent; avg is derived with the SAME
    # double division in both engines (never decimal division, whose
    # rounding scale differs across engines). At 100 TB each refresh
    # costs O(slice + touched keys); this query's two refreshes stand in
    # for a nightly cadence. State lives under _scratch and is wiped per
    # run — re-folding the same slices into surviving state would
    # double-count (the batch API has no replay guard; the STREAMING
    # refresh records batch ids for exactly that).
    _, st = _mv_two_slices(spark, sf, "mv_state")
    return st.select(
        "o_orderstatus",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("cnt_o_totalprice").cast("bigint").alias("cnt_p"),
        F.col("sum_o_totalprice").cast("double").alias("sum_p"),
        (
            F.col("sum_o_totalprice").cast("double") / F.col("cnt_o_totalprice")
        ).alias("avg_p"),
        F.col("min_o_totalprice").alias("min_p"),
        F.col("max_o_totalprice").alias("max_p"),
    )


@q(
    "q_mv_diff",
    """
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS v1_rows,
           CAST(COUNT(*) AS BIGINT) AS v2_rows,
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                         OR o_orderdate IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS delta_rows
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_mv_diff(spark, sf):
    # versioned-state TIME TRAVEL through the oracle gate: two refreshes
    # leave committed versions v=1 (first slice) and v=2 (both slices);
    # read_agg_state(version=) pins each, and the per-key row-count diff
    # must equal the second slice's direct contribution. This is the
    # audit query a production MV needs after every refresh ("what did
    # last night's load change?") — O(keys), never re-reading history.
    from mongo_to_parquet_spark.operators import incremental as inc

    state_dir, _ = _mv_two_slices(spark, sf, "mv_diff")
    v1 = inc.read_agg_state(spark, state_dir, version=1).select(
        "o_orderstatus", F.col("n_rows").alias("r1")
    )
    v2 = inc.read_agg_state(spark, state_dir, version=2).select(
        "o_orderstatus", F.col("n_rows").alias("r2")
    )
    return (
        v2.join(v1, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            F.coalesce("r1", F.lit(0)).cast("bigint").alias("v1_rows"),
            F.col("r2").cast("bigint").alias("v2_rows"),
            (F.col("r2") - F.coalesce("r1", F.lit(0))).cast("bigint").alias("delta_rows"),
        )
    )


# ---------------------------------------------------- compaction planning --
@q(
    "q_lake_compaction",
    """
    WITH f AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS r
      FROM orders GROUP BY 1, 2),
    t AS (SELECT y, GREATEST(SUM(r) // 4, 1) AS tgt FROM f GROUP BY y),
    b AS (
      SELECT f.y, f.m, f.r,
             COALESCE(SUM(f.r) OVER (PARTITION BY f.y ORDER BY f.m
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // t.tgt AS bin
      FROM f JOIN t USING (y))
    SELECT y, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(r) AS BIGINT) AS bin_rows,
           MIN(m) AS first_month, MAX(m) AS last_month
    FROM b GROUP BY y, bin
    """,
)
def q_lake_compaction(spark, sf):
    # Small-file compaction planning — the lakehouse maintenance step
    # every partitioned table needs (OPTIMIZE / bin-pack): within each
    # year partition, assign the per-month "files" (size proxy: row
    # count) to target-sized output groups by CUMULATIVE-SIZE binning —
    # bin = ⌊bytes_before / target⌋ over the month-ordered running sum.
    # This is exactly how real compaction planners batch adjacent files
    # (Delta OPTIMIZE, Iceberg binpack): deterministic, order-preserving
    # (rewritten files stay range-sorted, so downstream partition/file
    # pruning keeps working), and never splits a file. The exclusive
    # (1-PRECEDING) frame makes the first file of every partition land
    # in bin 0 even when it alone exceeds the target. All integers.
    #
    # Scale: the file census at 100 TB comes from the table metadata
    # layer (file manifests), already one row per file — here derived
    # from the fact with one map-combined pre-aggregation. The window
    # sorts file-count rows per partition (thousands at most); the plan
    # output feeds partition-parallel rewrite jobs. No data shuffles.
    o = T(spark, sf, "orders")
    f = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
    ).agg(F.count(F.lit(1)).alias("r"))
    t = f.groupBy("y").agg(
        F.greatest(F.expr("div(sum(r), 4)"), F.lit(1).cast("bigint")).alias("tgt")
    )
    w = (
        Window.partitionBy("y")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = (
        f.join(t, "y")
        .withColumn("before", F.coalesce(F.sum("r").over(w), F.lit(0)))
        .withColumn("bin", F.expr("div(before, tgt)").cast("bigint"))
    )
    return b.groupBy("y", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("r").cast("bigint").alias("bin_rows"),
        F.min("m").alias("first_month"),
        F.max("m").alias("last_month"),
    )
