"""Property-based algebraic invariants (SURVEY §5.4), hypothesis-driven on
small in-memory tables so each property runs many random cases quickly."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from mongo_to_parquet_spark.operators import dedup

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 5), st.floats(0, 100, allow_nan=False)),
    min_size=0,
    max_size=40,
)


def _df(spark, data):
    if not data:
        return spark.createDataFrame([], "id: bigint, k: bigint, v: double")
    return spark.createDataFrame([Row(id=i, k=k, v=v) for i, k, v in data])


@given(rows_strategy, st.integers(0, 5))
@settings(**_SETTINGS)
def test_filter_composition(spark, data, split):
    # filter(p) ∘ filter(q) ≡ filter(p ∧ q)
    df = _df(spark, data)
    a = df.filter(F.col("k") >= split).filter(F.col("v") < 50.0).count()
    b = df.filter((F.col("k") >= split) & (F.col("v") < 50.0)).count()
    assert a == b


@given(rows_strategy, rows_strategy)
@settings(**_SETTINGS)
def test_union_all_count_additive(spark, d1, d2):
    a, b = _df(spark, d1), _df(spark, d2)
    assert a.unionByName(b).count() == a.count() + b.count()


@given(rows_strategy)
@settings(**_SETTINGS)
def test_semi_join_equals_inner_distinct_project(spark, data):
    # the identity requires a duplicate-free left relation (semi preserves
    # duplicate rows; inner∘distinct collapses them — hypothesis found the
    # all-duplicate counterexample), so make ids unique by construction
    data = [(i, k, v) for i, (_, k, v) in enumerate(data)]
    df = _df(spark, data)
    other = df.filter(F.col("v") > 30.0).select(F.col("k").alias("kk"))
    semi = df.join(other, df.k == other.kk, "left_semi").count()
    inner = (
        df.join(other.distinct(), df.k == other.kk, "inner")
        .select("id", "k", "v")
        .distinct()
        .count()
    )
    assert semi == inner


@given(st.lists(st.sampled_from(["a b c", "a b", "x y z", "a b c d"]), min_size=0, max_size=12))
@settings(**_SETTINGS)
def test_exact_dedup_idempotent(spark, texts):
    if not texts:
        return
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    once = dedup.exact_dedup(df)
    twice = dedup.exact_dedup(once)
    assert sorted(r["doc_id"] for r in once.collect()) == sorted(
        r["doc_id"] for r in twice.collect()
    )
    # one survivor per distinct text
    assert once.count() == len(set(texts))


@given(rows_strategy)
@settings(**_SETTINGS)
def test_groupby_sum_partition_invariant(spark, data):
    # aggregation result independent of physical partitioning
    df = _df(spark, data)
    a = sorted(df.groupBy("k").agg(F.count("*").alias("c")).collect())
    b = sorted(df.repartition(7, "k").groupBy("k").agg(F.count("*").alias("c")).collect())
    assert a == b


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2_000)),  # (key, time µs)
        min_size=0,
        max_size=30,
    ),
    st.sampled_from([100, 250, 499]),
)
@settings(**_SETTINGS)
def test_banded_range_join_equals_naive(spark, data, band):
    # banding is a pure physical rewrite: same pairs as the naive
    # equi-on-key + residual join, for any band width and timestamps
    # (including duplicates and exact-boundary deltas)
    from mongo_to_parquet_spark.operators.rangejoin import banded_pairs

    if not data:
        return
    df = spark.createDataFrame(
        [Row(event_id=i, user_id=k, us=t) for i, (k, t) in enumerate(data)]
    )
    banded = {
        (r["id1"], r["id2"], r["delta_us"]) for r in banded_pairs(df, band).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    naive = {
        (r["id1"], r["id2"], r["delta_us"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.us") > F.col("a.us"))
            & (F.col("b.us") - F.col("a.us") <= band),
        )
        .select(
            F.col("a.event_id").alias("id1"),
            F.col("b.event_id").alias("id2"),
            (F.col("b.us") - F.col("a.us")).alias("delta_us"),
        )
        .collect()
    }
    assert banded == naive


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
def test_asof_join_matches_naive_semantics(spark, left_rows, right_rows):
    # for every left row: the carried value is the right row with the
    # greatest time <= left time within the key (inclusive), else null —
    # checked against a straight Python computation, including duplicate
    # timestamps and empty right sides
    from mongo_to_parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(lid=i, k=k, t=t) for i, (k, t) in enumerate(left_rows)]
    )
    right_data = [(k, t) for k, t in right_rows]
    if right_data:
        right = spark.createDataFrame([Row(k=k, t=t) for k, t in right_data])
    else:
        right = spark.createDataFrame([], "k bigint, t bigint")
    got = {
        r["lid"]: r["t_asof"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t", carry=["t"]
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [rt for rk, rt in right_data if rk == k and rt <= t]
        expected = max(cands) if cands else None
        assert got[i] == expected, f"lid={i} k={k} t={t}: {got[i]} != {expected}"


def test_zorder_interleave_is_bijective(spark):
    """Morton interleave must be a bijection on the 8-bit x 8-bit domain —
    any collision would merge unrelated (a, b) cells and silently break
    the clustering rectangles."""
    from mongo_to_parquet_spark.functions.layout import zorder_value

    df = (
        spark.range(256 * 256)
        .selectExpr("id % 256 as a", "id div 256 as b")
        .select(zorder_value(F.col("a"), F.col("b"), 8).alias("z"))
    )
    stats = df.agg(
        F.countDistinct("z").alias("n"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert stats["n"] == 256 * 256
    assert stats["lo"] == 0 and stats["hi"] == 256 * 256 - 1


@given(
    st.lists(st.text(alphabet="ab", min_size=1, max_size=3), min_size=3, max_size=8),
    st.lists(st.text(alphabet="ab", min_size=1, max_size=3), min_size=0, max_size=4),
    st.lists(st.text(alphabet="ab", min_size=1, max_size=3), min_size=0, max_size=4),
)
@settings(**_SETTINGS)
def test_substring_dedup_finds_planted_containment(spark, inner, prefix, suffix):
    """Plant doc A inside doc B (token-aligned, with padding so B is
    strictly longer) — the first-shingle-blocked containment query must
    recover the (A, B) pair."""
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ

    a_text = " ".join(inner)
    b_text = " ".join(prefix + inner + suffix)
    if len(b_text) <= len(a_text):  # need strict containment
        b_text = b_text + " pad"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=a_text), Row(doc_id=2, text=b_text)]
    )

    import mongo_to_parquet_spark.sources.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda _s, _sf, name: docs
        # the query module binds `T` to load_table at import time
        import mongo_to_parquet_spark.queries.llm as llm_mod

        orig_t = llm_mod.T
        llm_mod.T = lambda _s, _sf, name: docs
        try:
            pairs = {
                (r["contained_id"], r["container_id"])
                for r in LQ["q_dedup_substring"](spark, "unused").collect()
            }
        finally:
            llm_mod.T = orig_t
    finally:
        cat.load_table = orig
    assert (1, 2) in pairs


@given(
    st.lists(st.floats(0, 100, allow_nan=False), min_size=2, max_size=12),
    st.integers(1, 1000),
)
@settings(**_SETTINGS)
def test_time_weighted_avg_equals_plain_avg_on_uniform_grid(spark, values, step_s):
    """With equal gaps the time-weighted average degenerates to the plain
    arithmetic mean of all values except the last (open-ended) one."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            user_id=7,
            value=float(v),
            ts=base + dt.timedelta(seconds=i * step_s),
        )
        for i, v in enumerate(values)
    ]
    events = spark.createDataFrame(rows)

    import mongo_to_parquet_spark.queries.stream as stream_mod

    orig_t = stream_mod.T
    stream_mod.T = lambda _s, _sf, name: events
    try:
        got = stream_mod.QUERIES["q_agg_time_weighted"](spark, "unused").collect()
    finally:
        stream_mod.T = orig_t
    assert len(got) == 1
    expected = sum(values[:-1]) / len(values[:-1])
    assert abs(got[0]["tw_avg"] - round(expected, 4)) < 1e-9
    assert got[0]["n_intervals"] == len(values) - 1


def test_uniform_sample_invariant_to_partitioning(spark, sf_dir):
    """The content-addressed k-sample must return the SAME rows no matter
    how the input is partitioned — the reproducibility contract that
    rand()-based sampling cannot give."""
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ
    import mongo_to_parquet_spark.queries.llm as llm_mod
    from mongo_to_parquet_spark.sources.catalog import load_table

    base = load_table(spark, sf_dir, "documents")
    ids_ref = sorted(
        r["doc_id"] for r in LQ["q_sample_uniform"](spark, sf_dir).collect()
    )
    orig_t = llm_mod.T
    llm_mod.T = lambda _s, _sf, name: base.repartition(3, "lang")
    try:
        ids_repart = sorted(
            r["doc_id"] for r in LQ["q_sample_uniform"](spark, "unused").collect()
        )
    finally:
        llm_mod.T = orig_t
    assert ids_ref == ids_repart and len(ids_ref) == 100


@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=30), min_size=1, max_size=10
    )
)
@settings(**_SETTINGS)
def test_entropy_bounds_and_uniform_exact(spark, docs):
    # 0 <= H <= log2(n_tokens) for every doc; H == 0 iff one distinct token
    import math


    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows)
    import mongo_to_parquet_spark.queries.llm as llm_mod

    orig = llm_mod.T
    try:
        llm_mod.T = lambda s, sf, name: df
        out = {r["doc_id"]: r for r in llm_mod.QUERIES["q_text_entropy"](spark, "x").collect()}
    finally:
        llm_mod.T = orig
    for i, toks in enumerate(docs):
        h, n = out[i]["ent_bits"], out[i]["n_tokens"]
        assert n == len(toks)
        assert -1e-9 <= h <= math.log2(n) + 5.1e-5  # 4dp ROUND slack
        if len(set(toks)) == 1:
            assert h == 0.0


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-1000, 1000)),
            st.one_of(st.none(), st.sampled_from(["x", "y", "zz"])),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_profile_matches_direct_aggregates(spark, data):
    # profile_columns' one-pass stacked report == per-column direct queries
    from mongo_to_parquet_spark.operators.validate import profile_columns

    df = spark.createDataFrame(
        [Row(a=a, s=s) for a, s in data], "a: bigint, s: string"
    )
    rep = {r["col_name"]: r for r in profile_columns(df, {"a": None, "s": None}).collect()}
    pdf = df.toPandas()
    for c in ("a", "s"):
        col = pdf[c]
        assert rep[c]["n_nulls"] == int(col.isna().sum())
        assert rep[c]["n_distinct"] == col.dropna().nunique()
        nn = col.dropna()
        if c == "a" and not nn.empty:  # pandas floats nullable ints
            nn = nn.astype("int64")
        exp_min = None if nn.empty else str(nn.min())
        exp_max = None if nn.empty else str(nn.max())
        assert rep[c]["min_repr"] == exp_min
        assert rep[c]["max_repr"] == exp_max


def test_pagerank_conserves_mass_and_ranks_hubs(spark, sf_dir):
    """Fixed-point PageRank invariants: total rank mass stays within
    integer-truncation loss of 1.0 (each node's value loses < 1e-9 x
    (1 + #in-edges) to div truncation), every rank is positive and above
    the teleport floor, and node count equals the graph's node count."""
    from mongo_to_parquet_spark.queries import queries

    rows = queries()["q_graph_pagerank"](spark, sf_dir).collect()
    scale = 1_000_000_000
    n = len(rows)
    total = sum(r["pagerank_scaled"] for r in rows)
    floor = (15 * scale) // (100 * n)
    assert all(r["pagerank_scaled"] >= floor for r in rows)
    # truncation only ever loses mass; bound the loss generously
    assert total <= scale
    assert total >= scale - n * 200  # ~2e-7 relative loss headroom
    # bipartite graph: every node id is C<custkey> or S<suppkey>
    assert all(r["node"][0] in ("C", "S") for r in rows)


def test_interpolation_is_exact_on_hits_and_bounded_between(spark):
    """Grid points that coincide with an event take the event value;
    points between two events lie within [min, max] of the neighbor
    values (linearity ⇒ convex combination)."""
    import datetime as dt

    from mongo_to_parquet_spark.queries.stream import QUERIES, _STEP_US

    # craft events: user 1 has points exactly ON the 6h grid and between
    base = dt.datetime(2024, 1, 1)  # epoch-aligned → on-grid
    rows = [
        Row(event_id=1, ts=base, user_id=1, event_type="a", value=10.0, props="{}"),
        Row(event_id=2, ts=base + dt.timedelta(hours=3), user_id=1,
            event_type="a", value=90.0, props="{}"),
        Row(event_id=3, ts=base + dt.timedelta(hours=12), user_id=1,
            event_type="a", value=20.0, props="{}"),
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="interp_")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(f"{d}/events.parquet")
    try:
        got = {r["grid_us"]: r["value"] for r in QUERIES["q_ts_interpolate"](spark, d).collect()}
        t0 = int(base.timestamp()) * 1_000_000
        assert got[t0] == 10.0                       # exact hit
        assert got[t0 + _STEP_US] == pytest.approx(
            90 + (20 - 90) * (6 - 3) / (12 - 3), abs=1e-3
        )  # linear between 3h(90) and 12h(20) at t=6h
        for v in got.values():
            assert 10.0 <= v <= 90.0
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),            # user_id
            st.integers(0, 20),           # minutes offset (collisions likely)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_scd2_matches_naive_python(spark, data):
    """Differential: the windowed SCD-2 build equals a straightforward
    single-threaded reimplementation on arbitrary event streams —
    including simultaneous timestamps (event_id tiebreak) and
    single-event users."""
    import datetime as dt
    import shutil
    import tempfile

    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=i, ts=base + dt.timedelta(minutes=m), user_id=u,
            event_type=t, value=1.0, props="{}")
        for i, (u, m, t) in enumerate(data)
    ]
    d = tempfile.mkdtemp(prefix="scd2_")
    try:
        spark.createDataFrame(rows).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (r["user_id"], r["seg_id"]): (
                r["event_type"], r["valid_from_us"], r["valid_to_us"],
                r["is_current"], r["n_events"],
            )
            for r in CQ["q_scd2_history"](spark, d).collect()
        }
        # naive: sort per user, compress runs
        want = {}
        by_user = {}
        for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
            by_user.setdefault(r.user_id, []).append(r)
        for u, evs in by_user.items():
            segs = []
            for r in evs:
                if segs and segs[-1][0] == r.event_type:
                    segs[-1][2] += 1
                else:
                    segs.append([r.event_type, int(r.ts.timestamp() * 1e6), 1])
            for i, (t, start, n) in enumerate(segs):
                nxt = segs[i + 1][1] if i + 1 < len(segs) else None
                want[(u, i + 1)] = (t, start, nxt, 1 if nxt is None else 0, n)
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    # degree-ordered edge-centric count == naive Python enumeration on the
    # same sf0.001 co-occurrence graph
    from itertools import combinations

    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    by_order: dict[int, set[int]] = {}
    for r in li.collect():
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if b < c  # (a < b < c) counts each triangle once
    )
    row = CQ["q_graph_triangles"](spark, sf_dir).first()
    assert row["n_edges"] == len(edges)
    assert row["n_triangles"] == tri
    assert 0.0 <= row["gcc"] <= 1.0
    assert 3 * row["n_triangles"] <= row["n_wedges"]


def test_kmv_is_exact_below_k(spark, sf_dir):
    # at sf0.001 both audiences have < k distinct members → the sketch
    # takes the exact branch and the estimates equal the exact counts
    from mongo_to_parquet_spark.queries.retrieval import QUERIES as RQ

    r = RQ["q_sketch_kmv"](spark, sf_dir).first()
    assert r["n_a"] < 64 and r["n_b"] < 64
    assert r["est_union"] == float(r["exact_union"])
    assert r["est_int"] == float(r["exact_int"])
    assert r["exact_int"] <= min(r["n_a"], r["n_b"])
    assert r["exact_union"] >= max(r["n_a"], r["n_b"])


def test_rrf_scores_follow_rank_formula(spark, sf_dir):
    from mongo_to_parquet_spark.queries.retrieval import QUERIES as RQ

    for r in RQ["q_hybrid_rrf"](spark, sf_dir).collect():
        want = 0.0
        if r["r_lex"] is not None:
            want += 1.0 / (60 + r["r_lex"])
        if r["r_vec"] is not None:
            want += 1.0 / (60 + r["r_vec"])
        assert r["rrf"] == round(want, 6)
        assert r["r_lex"] is not None or r["r_vec"] is not None


def test_winsorize_bounds_and_clamp_fractions(spark, sf_dir):
    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ

    for r in CQ["q_winsorize"](spark, sf_dir).collect():
        assert r["p05"] <= r["p95"]
        # rank selection at ceil(q*n): strictly-below-p05 rows < 5% of n,
        # strictly-above-p95 rows ≤ 5% of n
        assert r["n_clamped_low"] < 0.05 * r["n"]
        assert r["n_clamped_high"] <= 0.05 * r["n"]
        assert r["p05"] <= r["mean_winsorized"] <= r["p95"]


def test_winnowing_guarantee_on_substring_pairs(spark, sf_dir):
    # the winnowing theorem: any shared token run of w + k - 1 tokens
    # yields a shared fingerprint hash — so every substring-containment
    # pair (token-aligned, ≥6 shared tokens on this fixture) must share
    # at least one fingerprint
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ

    sub_pairs = {
        (r["contained_id"], r["container_id"])
        for r in LQ["q_dedup_substring"](spark, sf_dir).collect()
    }
    if not sub_pairs:
        return  # fixture slice has no containment pairs — nothing to check
    fps = {
        r["doc_id"]: set(map(int, r["fp"].split(",")))
        for r in LQ["q_text_winnow"](spark, sf_dir).collect()
    }
    from mongo_to_parquet_spark.sources.catalog import load_table

    lens = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for a, b in sub_pairs:
        if min(lens[a], lens[b]) >= 6:  # guarantee needs w + k - 1 tokens
            assert fps[a] & fps[b], f"containment pair ({a},{b}) shares no fingerprint"


texts_strategy = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(texts_strategy)
@settings(**_SETTINGS)
def test_span_dedup_conservation(spark, texts):
    # Σ n_spans is the corpus span count; Σ kept (= n_spans − n_dropped)
    # equals the number of DISTINCT spans — every duplicate occurrence is
    # dropped exactly once, first occurrences all survive.
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    out = dedup.span_dedup(docs, span_tokens=2).collect()
    spans = []
    for t in texts:
        toks = t.split(" ")
        spans += [" ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)]
    assert sum(r["n_spans"] for r in out) == len(spans)
    assert sum(r["n_spans"] - r["n_dropped"] for r in out) == len(set(spans))
    # reassembly: every cleaned text is the doc's kept spans in order
    for r in out:
        assert r["n_dropped"] <= r["n_spans"]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_kmv_hash_matches_duckdb_bit_for_bit(spark, values):
    """The load-bearing assumption of every KMV twin (functions/sketch.py):
    Spark's conv(substr(md5(..),1,8),16,10) and DuckDB's
    CAST(concat('0x', substr(md5(..),1,8)) AS BIGINT) map ANY string to
    the identical 32-bit integer. Random printable strings, bit-for-bit."""
    import duckdb

    from mongo_to_parquet_spark.functions import sketch as _sk

    df = spark.createDataFrame([Row(v=v) for v in values])
    got = {
        r["v"]: r["h"]
        for r in df.select("v", _sk.kmv_hash(F.col("v")).alias("h")).collect()
    }
    con = duckdb.connect()
    expr = _sk.kmv_hash_sql("v")
    want = dict(
        con.execute(
            f"SELECT v, {expr} AS h FROM (SELECT unnest(?) AS v)", [values]
        ).fetchall()
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),       # key
            st.integers(0, 2000),    # start
            st.integers(0, 800),     # span
        ),
        min_size=0,
        max_size=30,
    ),
    st.sampled_from([50, 300, 1000, 5000]),  # cell width incl. degenerate
)
@settings(**_SETTINGS)
def test_interval_overlap_equals_naive(spark, data, cell):
    """interval_overlap_pairs (grid-cell blocking + first-shared-cell
    dedup guard) returns EXACTLY the naive theta-join pairs — complete,
    duplicate-free, with identical overlap lengths — for any cell width,
    including cells far wider/narrower than the spans."""
    from mongo_to_parquet_spark.operators.rangejoin import interval_overlap_pairs

    rows = [
        Row(iv_id=i, k=k, s_us=s, e_us=s + span)
        for i, (k, s, span) in enumerate(data)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows)
    got = {
        (r["k"], r["id1"], r["id2"]): r["overlap_us"]
        for r in interval_overlap_pairs(df, cell_us=cell).collect()
    }
    want = {}
    for a in rows:
        for b in rows:
            if a.k == b.k and a.iv_id < b.iv_id and a.s_us <= b.e_us and b.s_us <= a.e_us:
                want[(a.k, a.iv_id, b.iv_id)] = min(a.e_us, b.e_us) - max(
                    a.s_us, b.s_us
                )
    assert got == want


def test_kmv_hash_null_parity(spark):
    """NULL-in-NULL-out on BOTH engines — the exact divergence the round-4
    review caught: DuckDB's concat() SKIPS null arguments, so the oracle
    emitter must use || (kmv_hash_sql). A NULL value must hash to NULL
    in Spark AND DuckDB, never to md5(salt)."""
    import duckdb

    from mongo_to_parquet_spark.functions import sketch as _sk

    df = spark.createDataFrame([Row(v=None), Row(v="x")], "v string")
    got = {
        r["v"]: r["h"]
        for r in df.select("v", _sk.kmv_hash(F.col("v")).alias("h")).collect()
    }
    assert got[None] is None and got["x"] is not None

    con = duckdb.connect()
    expr = _sk.kmv_hash_sql("v")
    want = dict(
        con.execute(
            f"SELECT v, {expr} AS h FROM (VALUES (CAST(NULL AS VARCHAR)), ('x')) t(v)"
        ).fetchall()
    )
    assert want[None] is None and want["x"] == got["x"]


funnel_events = st.lists(
    st.tuples(
        st.integers(0, 3),                      # user
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.integers(0, 30),                     # ts (small so ties happen)
    ),
    min_size=0,
    max_size=25,
)


@given(funnel_events, st.integers(1, 12))
@settings(**_SETTINGS)
def test_window_funnel_equals_bruteforce(spark, data, horizon):
    # the greedy-earliest window-funnel plan (one window + one equi-join)
    # must equal brute-force enumeration of ALL (view, click, purchase)
    # chains with strictly increasing ts and p.ts <= v.ts + horizon
    from mongo_to_parquet_spark.queries.stream import window_funnel_levels

    expected = {}
    by_user: dict[int, list] = {}
    for u, t, ts in data:
        by_user.setdefault(u, []).append((t, ts))
    for u, evs in by_user.items():
        views = [ts for t, ts in evs if t == "view"]
        if not views:
            continue
        lvl = 1
        for v in views:
            for c in (ts for t, ts in evs if t == "click" and ts > v):
                if c <= v + horizon:
                    lvl = max(lvl, 2)
                for p in (ts for t, ts in evs if t == "purchase" and ts > c):
                    if p <= v + horizon:
                        lvl = max(lvl, 3)
        expected[u] = lvl

    if data:
        df = spark.createDataFrame(
            [Row(user_id=u, event_type=t, tsu=ts) for u, t, ts in data]
        )
    else:
        df = spark.createDataFrame([], "user_id: bigint, event_type: string, tsu: bigint")
    got = {
        r["user_id"]: r["lvl"]
        for r in window_funnel_levels(df, horizon_us=horizon).collect()
    }
    assert got == expected


_TOKS = ["alpha", "beta", "gamma", "delta", "epsi", "zeta"]


@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(_TOKS), min_size=1, max_size=8),
            st.booleans(),  # True -> the doc arrives in the delta
        ),
        min_size=0,
        max_size=14,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_minhash_equals_restricted_full(spark, docs):
    """minhash_incremental_pairs(delta, index(base), corpus) must equal the
    corpus-wide pipeline restricted to delta-involving pairs, for ANY
    split — the restricted-output equivalence q_dedup_incremental's
    oracle relies on. The corpus-wide pipeline is itself expressed as
    the incremental operator with an empty index and delta=everything
    (then the delta self-join IS the full banded candidate join)."""
    schema = "doc_id bigint, text string"
    rows = [Row(doc_id=i + 1, text=" ".join(toks)) for i, (toks, _) in enumerate(docs)]
    corpus = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    delta_ids = {i + 1 for i, (_, is_new) in enumerate(docs) if is_new}
    delta = corpus.filter(F.col("doc_id").isin(delta_ids) if delta_ids else F.lit(False))
    base = corpus.filter(~F.col("doc_id").isin(delta_ids) if delta_ids else F.lit(True))

    empty_idx = spark.createDataFrame([], "doc bigint, band bigint, sigstr string")
    full = dedup.minhash_incremental_pairs(corpus, empty_idx, corpus, threshold=0.5)
    want = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in full.collect()
        if r["id1"] in delta_ids or r["id2"] in delta_ids
    )
    got = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in dedup.minhash_incremental_pairs(
            delta, dedup.minhash_index(base), corpus, threshold=0.5
        ).collect()
    )
    assert got == want


@given(
    st.lists(st.sampled_from(list("abcdefgh")), min_size=0, max_size=120),
    st.integers(1, 6),
    st.integers(1, 8),
)
@settings(**_SETTINGS)
def test_frequent_items_exact_and_partition_invariant(spark, items, den, parts):
    """frequent_items == the naive groupBy-HAVING answer for ANY data,
    threshold, and partitioning — the Misra-Gries candidate stage may
    vary with partition boundaries, but the exact recount + integer
    threshold must erase that (the determinism claim q_freq_tokens's
    oracle relies on)."""
    from mongo_to_parquet_spark.operators.freq import frequent_items

    schema = "item string"
    df = (
        spark.createDataFrame([Row(item=i) for i in items], schema)
        if items
        else spark.createDataFrame([], schema)
    ).repartition(parts)
    got = sorted(
        (r["item"], r["cnt"], r["n"])
        for r in frequent_items(df, "item", phi_num=1, phi_den=den).collect()
    )
    from collections import Counter

    c = Counter(items)
    n = len(items)
    want = sorted((i, cnt, n) for i, cnt in c.items() if cnt * den > n)
    assert got == want


# ------------------------------------------------------------ privacy pack -


def test_luhn_semantics_independent_of_oracle(spark, sf_dir):
    # the oracle gate proves Spark == DuckDB on the SAME expression tree;
    # this proves the tree itself is a correct Luhn implementation:
    # (1) every uncorrupted PAN passes python-stdlib Luhn, every corrupted
    #     one fails, (2) is_valid is exactly (o_orderkey % 7 != 0)
    from mongo_to_parquet_spark.queries import queries

    rows = queries()["q_pii_luhn"](spark, sf_dir).collect()
    assert rows

    def luhn_ok(pan: str) -> bool:
        s = 0
        for i, ch in enumerate(reversed(pan)):  # i=0 is the check digit
            d = int(ch)
            if i % 2 == 1:
                d = d * 2 - 9 if d * 2 > 9 else d * 2
            s += d
        return s % 10 == 0

    for r in rows:
        assert len(r["pan"]) == 16 and r["pan"].isdigit()
        assert r["is_valid"] == luhn_ok(r["pan"])
        assert r["is_valid"] == (r["o_orderkey"] % 7 != 0)


def test_pii_redact_leaves_no_pii_shapes(spark, sf_dir):
    # post-condition a release auditor would run: after redaction no
    # IP / email / SSN shape survives, and every placeholder that
    # appears is accounted for by n_pii
    import re

    from mongo_to_parquet_spark.queries import queries

    rows = queries()["q_pii_redact"](spark, sf_dir).collect()
    assert rows
    pats = [
        re.compile(r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
        re.compile(r"[a-z0-9]+@[a-z]+\.[a-z]+"),
        re.compile(r"[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ]
    for r in rows:
        for p in pats:
            assert not p.search(r["redacted"]), (r, p.pattern)
        n_placeholders = sum(
            r["redacted"].count(t) for t in ("<IP>", "<EMAIL>", "<SSN>")
        )
        assert n_placeholders == r["n_pii"]


def _avg_ranks(values):
    # average (midrank) assignment, returned as float ranks 1..n
    order = sorted(range(len(values)), key=lambda i: values[i])
    ranks = [0.0] * len(values)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and values[order[j + 1]] == values[order[i]]:
            j += 1
        avg = (i + j) / 2 + 1  # positions i..j (0-based) -> ranks i+1..j+1
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


def test_mannwhitney_matches_naive_python(spark, sf_dir):
    # oracle parity proves Spark == DuckDB on one expression tree; this
    # proves the tree is actually the Mann-Whitney statistic: recompute
    # U and the tie-corrected z from the raw rows with a direct
    # textbook implementation
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_stats_mannwhitney"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('click','view') AND value IS NOT NULL")
        .select("event_type", "value")
        .collect()
    )
    vals = [r["value"] for r in rows]
    ranks = _avg_ranks(vals)
    r1 = sum(rk for rk, r in zip(ranks, rows) if r["event_type"] == "click")
    n1 = sum(1 for r in rows if r["event_type"] == "click")
    n2 = len(rows) - n1
    u1 = r1 - n1 * (n1 + 1) / 2
    assert got["n1"] == n1 and got["n2"] == n2
    assert got["u1_x2"] == round(2 * u1)
    assert got["u1_x2"] + got["u2_x2"] == 2 * n1 * n2
    from collections import Counter

    tie_t = sum(c**3 - c for c in Counter(vals).values())
    assert got["tie_t"] == tie_t
    n = n1 + n2
    z = (u1 - n1 * n2 / 2) / math.sqrt(
        n1 * n2 / 12 * ((n + 1) - tie_t / (n * (n - 1)))
    )
    assert abs(got["z"] - z) <= 1e-4


def test_spearman_matches_naive_python(spark, sf_dir):
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_stats_spearman"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(l_quantity AS BIGINT) AS x",
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y",
        )
        .collect()
    )
    xs = _avg_ranks([r["x"] for r in rows])
    ys = _avg_ranks([r["y"] for r in rows])
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert got["n_rows"] == n
    assert abs(got["rho"] - rho) <= 1e-4


# ---------------------------------------------------------------- geo pack -


def _geo_points(spark, sf_dir):
    from mongo_to_parquet_spark.sources.catalog import load_table

    A, B = 2654435761, 2246822519
    cust = [
        (r["c_custkey"], (r["c_custkey"] % 10**8 * A) % 1000000, (r["c_custkey"] % 10**8 * B) % 1000000)
        for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    ]
    supp = [
        (
            r["s_suppkey"],
            (r["s_suppkey"] % 10**8 * B + 123456789) % 1000000,
            (r["s_suppkey"] % 10**8 * A + 987654321) % 1000000,
        )
        for r in load_table(spark, sf_dir, "supplier").select("s_suppkey").collect()
    ]
    return cust, supp


def test_geo_radius_blocking_is_complete(spark, sf_dir):
    # R < CELL must make the ring lookup COMPLETE: the engine's semi-join
    # answer equals the O(n*m) brute-force "any supplier within R" set —
    # proving the grid blocking loses no true neighbor
    from mongo_to_parquet_spark.queries import queries

    got = {
        r["c_custkey"]
        for r in queries()["q_geo_radius_semi"](spark, sf_dir).collect()
    }
    cust, supp = _geo_points(spark, sf_dir)
    R2 = 40_000 ** 2
    want = {
        k
        for k, lat, lon in cust
        if any((lat - sl) ** 2 + (lon - so) ** 2 <= R2 for _, sl, so in supp)
    }
    assert got == want


def test_geo_knn_matches_bruteforce_within_ring(spark, sf_dir):
    # the declared semantics: top-3 by (dist2, suppkey) among suppliers in
    # the probe's 3x3 cell ring — verified against a python brute force
    from collections import defaultdict

    from mongo_to_parquet_spark.queries import queries

    got = defaultdict(list)
    for r in queries()["q_geo_grid_knn"](spark, sf_dir).collect():
        got[r["c_custkey"]].append((r["rk"], r["s_suppkey"], r["dist2"]))
    cust, supp = _geo_points(spark, sf_dir)
    CELL = 50_000
    for k, lat, lon in cust:
        cx, cy = lon // CELL, lat // CELL
        cand = sorted(
            ((lat - sl) ** 2 + (lon - so) ** 2, sk)
            for sk, sl, so in supp
            if abs(so // CELL - cx) <= 1 and abs(sl // CELL - cy) <= 1
        )[:3]
        want = [(i + 1, sk, d2) for i, (d2, sk) in enumerate(cand)]
        assert sorted(got.get(k, [])) == want, k


def test_bootstrap_matches_hashlib_recomputation(spark, sf_dir):
    # full independent recomputation: python hashlib md5 -> truncated-
    # Poisson weights -> replicate means -> order-statistic CI must equal
    # the engine's answer bit for bit (the md5-twin guarantee, proven
    # end-to-end through the weighting, fixed-point division and ranking)
    import hashlib

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_stats_bootstrap"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "orders")
        .selectExpr("o_orderkey AS k", "CAST(ROUND(o_totalprice*100) AS BIGINT) AS c")
        .collect()
    )
    thresholds = ("5e", "bc", "eb", "fb", "ff")

    def weight(b, k):
        # replicate b reads 2 hex chars of per-row hash 1 (b < 16) or 2
        h = (
            hashlib.md5(f"bootA:{k}".encode()).hexdigest()
            if b < 16
            else hashlib.md5(f"bootB:{k}".encode()).hexdigest()
        )
        i = 2 * (b % 16)
        byte = h[i : i + 2]
        for w, t in enumerate(thresholds):
            if byte < t:
                return w
        return 5

    means = []
    for b in range(32):
        n_eff = s = 0
        for r in rows:
            w = weight(b, r["k"])
            n_eff += w
            s += w * r["c"]
        means.append((s * 10000) // n_eff)
    means.sort()
    n = len(rows)
    sc = sum(r["c"] for r in rows)
    assert got["n_rows"] == n
    assert got["mean_x10000"] == (sc * 10000) // n
    assert got["ci_lo_x10000"] == means[1]
    assert got["ci_hi_x10000"] == means[30]
    # the CI must bracket the point estimate
    assert got["ci_lo_x10000"] <= got["mean_x10000"] <= got["ci_hi_x10000"]


def test_welch_ttest_matches_naive_python(spark, sf_dir):
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_stats_ttest"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('click','view') AND value IS NOT NULL")
        .selectExpr("event_type AS t", "CAST(ROUND(value*100) AS BIGINT) AS c")
        .collect()
    )
    a = [r["c"] for r in rows if r["t"] == "click"]
    b = [r["c"] for r in rows if r["t"] == "view"]

    def mean_sesq(xs):
        n = len(xs)
        m = sum(xs) / n
        var = sum((x - m) ** 2 for x in xs) / (n - 1)
        return m, var / n

    m1, se1 = mean_sesq(a)
    m2, se2 = mean_sesq(b)
    t = (m1 - m2) / math.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (se1**2 / (len(a) - 1) + se2**2 / (len(b) - 1))
    assert got["n1"] == len(a) and got["n2"] == len(b)
    assert abs(got["t_stat"] - t) <= 1e-3
    assert abs(got["df"] - df) <= 1e-2


def test_export_fixity_roundtrip_matches_and_detects_edits(spark, sf_dir):
    # (1) a clean write->read-back audit must come back all-green;
    # (2) the checksum must actually be edit-sensitive: recomputing the
    #     digest with one field perturbed in one row must move exactly
    #     that year's checksum (the detection property the audit sells)
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = queries()["q_export_fixity"](spark, sf_dir).collect()
    assert rows and all(r["export_match"] for r in rows)
    base = {r["yr"]: r["checksum"] for r in rows}

    o = load_table(spark, sf_dir, "orders")
    first = o.agg(F.min("o_orderkey")).collect()[0][0]
    tampered = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == first, F.col("o_totalprice") + 0.01)
        .otherwise(F.col("o_totalprice")),
    )
    payload = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(F.col("o_orderdate").cast("string"), F.lit("<null>")),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.col("o_orderpriority"),
    )
    v = F.conv(F.substring(F.md5(payload), 1, 12), 16, 10).cast("bigint")
    got = {
        r["yr"]: r["ck"]
        for r in tampered.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            (F.sum(v.cast("decimal(38,0)")) % F.lit(2305843009213693951))
            .cast("bigint")
            .alias("ck")
        )
        .collect()
    }
    edited_yr = o.filter(F.col("o_orderkey") == first).select(
        F.year("o_orderdate").cast("bigint")
    ).collect()[0][0]
    assert got[edited_yr] != base[edited_yr]
    for yr in base:
        if yr != edited_yr:
            assert got[yr] == base[yr]


def test_target_encoding_is_leakage_free(spark, sf_dir):
    # each (cat, fold) encoding must equal the label mean over the OTHER
    # folds only — recomputed naively from raw rows
    from collections import defaultdict

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = {
        (r["cat"], r["fold"]): r["enc_x10000"]
        for r in queries()["q_feat_target_encode"](spark, sf_dir).collect()
    }
    agg = defaultdict(lambda: [0, 0])  # (cat, fold) -> [n, s]
    for r in (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderpriority AS cat",
            "o_orderkey % 5 AS fold",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y",
        )
        .collect()
    ):
        a = agg[(r["cat"], r["fold"])]
        a[0] += 1
        a[1] += r["y"]
    cats = {c for c, _ in agg}
    for c in cats:
        tot_n = sum(agg[(c, f)][0] for f in range(5) if (c, f) in agg)
        tot_s = sum(agg[(c, f)][1] for f in range(5) if (c, f) in agg)
        for f in range(5):
            if (c, f) not in agg:
                continue
            n, s = agg[(c, f)]
            assert got[(c, f)] == ((tot_s - s) * 10000) // (tot_n - n)


def test_feature_hashing_matches_hashlib(spark, sf_dir):
    # recompute the sparse triples with python hashlib: same buckets,
    # same signs, same sums (determinism + the signed construction)
    import hashlib
    import json
    from collections import defaultdict

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = {
        (r["user_id"], r["bucket"]): r["val"]
        for r in queries()["q_feat_hashing"](spark, sf_dir).collect()
    }
    want = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "props")
        .collect()
    ):
        for tok in (f"type={r['event_type']}", f"k={json.loads(r['props'])['k']}"):
            h = hashlib.md5(f"fh:{tok}".encode()).hexdigest()
            bucket = int(h[:12], 16) % 16
            sgn = 1 if h[12] < "8" else -1
            want[(r["user_id"], bucket)] += sgn
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_skew_diag_matches_naive_python(spark, sf_dir):
    from collections import Counter

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_skew_diag"](spark, sf_dir).collect()[0]
    counts = Counter(
        r["l_orderkey"]
        for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    )
    per_key = sorted(counts.values())
    n_keys = len(per_key)
    assert got["n_rows"] == sum(per_key)
    assert got["n_keys"] == n_keys
    assert got["max_cnt"] == per_key[-1]
    assert got["p50_cnt"] == per_key[(n_keys + 1) // 2 - 1]
    assert got["p99_cnt"] == per_key[(99 * n_keys + 99) // 100 - 1]


def test_pr_curve_matches_naive_python(spark, sf_dir):
    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = queries()["q_eval_pr_curve"](spark, sf_dir).collect()
    raw = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('click','view') AND value IS NOT NULL")
        .selectExpr(
            "CAST(ROUND(value*100) AS BIGINT) AS s",
            "CASE WHEN event_type='click' THEN 1 ELSE 0 END AS y",
        )
        .collect()
    )
    ranks = _avg_ranks([r["s"] for r in raw])
    n = len(raw)
    total_pos = sum(r["y"] for r in raw)
    from collections import Counter

    pos, neg = Counter(), Counter()
    for rk, r in zip(ranks, raw):
        decile = int((2 * rk - 1) * 5) // n
        (pos if r["y"] else neg)[decile] += 1
    got = {r["decile"]: r for r in rows}
    tp = fp = 0
    for k in sorted(got, reverse=True):
        tp += pos.get(k, 0)
        fp += neg.get(k, 0)
        g = got[k]
        assert (g["tp"], g["fp"], g["fn"]) == (tp, fp, total_pos - tp), k
        assert g["precision_x10000"] == (tp * 10000) // (tp + fp)
        assert g["recall_x10000"] == (tp * 10000) // total_pos
    # curve sanity: recall is monotone non-increasing in the threshold
    recalls = [got[k]["recall_x10000"] for k in sorted(got)]
    assert recalls == sorted(recalls, reverse=True)


def test_auc_matches_sklearn_free_naive(spark, sf_dir):
    # AUC recomputed by the probability definition: P(score_pos > score_neg)
    # + 0.5 P(tie), counted directly over all (pos, neg) pairs via sorted
    # merge — proves the rank identity implementation, not just parity
    from collections import Counter

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = queries()["q_eval_auc"](spark, sf_dir).collect()[0]
    raw = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('click','view') AND value IS NOT NULL")
        .selectExpr(
            "CAST(ROUND(value*100) AS BIGINT) AS s",
            "CASE WHEN event_type='click' THEN 1 ELSE 0 END AS y",
        )
        .collect()
    )
    pos = Counter(r["s"] for r in raw if r["y"])
    neg = Counter(r["s"] for r in raw if not r["y"])
    n1, n2 = sum(pos.values()), sum(neg.values())
    # u_x2 = 2*#{pos>neg} + #{ties}, accumulated over score censuses
    wins_x2 = 0
    cum_neg = 0
    for s in sorted(set(pos) | set(neg)):
        wins_x2 += pos[s] * (2 * cum_neg + neg[s])
        cum_neg += neg[s]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["u_x2"] == wins_x2
    assert got["auc_x10000"] == (wins_x2 * 10000) // (2 * n1 * n2)


# -- mongoexport scan ≡ unwrap_extjson + createDataFrame -------------------

_MISSING = object()
_EPOCH = dt.datetime(1970, 1, 1)
_EXT_SCHEMA = (
    "_id string, s string, n bigint, x double, t timestamp, amount decimal(10,2), "
    "flag boolean, m map<string,string>, "
    "sub struct<a: string, b: timestamp, c: decimal(6,1)>, "
    "dates array<timestamp>, nums array<bigint>, "
    "deep array<map<string,struct<d: decimal(6,2), s: string>>>"
)


def _opt(strategy):
    """A value, a JSON null, or the field left out of the document."""
    return st.one_of(strategy, st.none(), st.just(_MISSING))


def _doc(fields):
    return st.fixed_dictionaries(fields).map(
        lambda d: {k: v for k, v in d.items() if v is not _MISSING}
    )


def _decimal(bound, scale):
    # one digit more than the field's scale, and Decimal128's NaN. No exact
    # ties: the JVM path of createDataFrame rounds those half-up, the scan
    # half-even (test_mongoexport_decimal_ties_round_half_even)
    return st.one_of(
        st.decimals(-bound, bound, places=scale + 1, allow_nan=False, allow_infinity=False)
        .filter(lambda d: d.as_tuple().digits[-1] != 5),
        st.just(decimal.Decimal("NaN")),
    ).map(lambda d: {"$numberDecimal": str(d)})


_ms = st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2200, 1, 1)).map(
    lambda t: t.replace(microsecond=t.microsecond // 1000 * 1000)
)
_ext_date = st.one_of(
    _ms.map(lambda t: {"$date": t.isoformat(timespec="milliseconds") + "Z"}),
    _ms.map(lambda t: {"$date": {"$numberLong": str((t - _EPOCH) // dt.timedelta(milliseconds=1))}}),
    st.tuples(_ms, st.integers(-12, 14)).map(
        lambda p: {"$date": p[0].replace(tzinfo=dt.timezone(dt.timedelta(hours=p[1])))
                   .isoformat(timespec="milliseconds")}
    ),
)
_i64 = st.integers(-(2**63), 2**63 - 1)
_ext_long = st.one_of(
    _i64,
    _i64.map(lambda i: {"$numberLong": str(i)}),
    st.integers(-(2**31), 2**31 - 1).map(lambda i: {"$numberInt": str(i)}),
)
_ext_double = st.one_of(
    st.floats(allow_nan=False),
    st.floats(allow_nan=False, allow_infinity=False).map(lambda x: {"$numberDouble": repr(x)}),
    st.sampled_from(["Infinity", "-Infinity"]).map(lambda s: {"$numberDouble": s}),
)
# string fields also take the non-string scalars pyspark coerces
_ext_str = st.one_of(
    st.text(max_size=6), st.integers(), st.booleans(), st.floats(allow_nan=False),
    _ext_long, _ext_date,
)
_ext_doc = _doc({
    "s": _opt(_ext_str),
    "n": _opt(_ext_long),
    "x": _opt(_ext_double),
    "t": _opt(_ext_date),
    "amount": _opt(_decimal(10**7, 2)),
    "flag": _opt(st.booleans()),
    "m": _opt(st.dictionaries(st.text(max_size=3), st.one_of(st.none(), _ext_str), max_size=3)),
    "sub": _opt(_doc({
        "a": _opt(_ext_str), "b": _opt(_ext_date), "c": _opt(_decimal(10**4, 1)),
        "extra": _opt(st.text(max_size=3)),
    })),
    "dates": _opt(st.lists(st.one_of(st.none(), _ext_date), max_size=3)),
    "nums": _opt(st.lists(st.one_of(st.none(), _ext_long), max_size=3)),
    "deep": _opt(st.lists(st.dictionaries(
        st.text(max_size=3),
        _doc({"d": _opt(_decimal(10**3, 2)), "s": _opt(_ext_str)}),
        max_size=2,
    ), max_size=2)),
    "extra_field": _opt(st.text(max_size=3)),
})


@given(st.lists(_ext_doc, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_mongoexport_scan_equals_unwrap_then_create(spark, tmp_path, docs):
    """The column-wise Arrow scan gives exactly the rows pyspark's own
    local-data path gives for the unwrapped documents (string coercion,
    half-even decimal quantize, NaN → null, nested maps/structs/arrays),
    and ``read()`` yields only bounded RecordBatches of the declared
    Arrow schema."""
    import json
    import os
    import time
    from unittest import mock

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from mongo_to_parquet_spark.sources import extjson
    from mongo_to_parquet_spark.sources.extjson import (
        MongoExportDataSource,
        _FilePartition,
        unwrap_extjson,
    )

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    docs = [{"_id": {"$oid": f"{i:024x}"}, **d} for i, d in enumerate(docs)]
    path = str(tmp_path / f"dump-{os.getpid()}-{time.monotonic_ns()}.jsonl")
    with open(path, "w", encoding="utf-8") as fh:
        for i, d in enumerate(docs):
            fh.write(json.dumps(d) + ("\n\n" if i % 4 == 3 else "\n"))  # blank lines skip
    schema = StructType.fromDDL(_EXT_SCHEMA)
    fields = schema.fieldNames()

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "UTC"  # createDataFrame reads naive datetimes as local
    time.tzset()
    try:
        spark.dataSource.register(MongoExportDataSource)
        got = spark.read.format("mongoexport").schema(schema).load(path).collect()
        want = spark.createDataFrame(
            [tuple(unwrap_extjson(d).get(f) for f in fields) for d in docs], schema
        ).collect()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert sorted(got, key=lambda r: r["_id"]) == sorted(want, key=lambda r: r["_id"])

    with mock.patch.object(extjson, "CHUNK_LINES", 4):
        reader = MongoExportDataSource({"path": path}).reader(schema)
        batches = list(reader.read(_FilePartition(path)))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.schema == to_arrow_schema(schema) for b in batches)
    assert all(b.num_rows <= 4 for b in batches)
    assert sum(b.num_rows for b in batches) == len(docs)


def test_mongoexport_decimal_ties_round_half_even(tmp_path):
    """Exact ties quantize half-even to the field's scale, as pyspark's
    per-row local-data converter did before the scan went column-wise."""
    import json

    from pyspark.sql.types import DecimalType, StructField, StructType

    from mongo_to_parquet_spark.sources.extjson import MongoExportReader, _FilePartition

    path = str(tmp_path / "ties.jsonl")
    values = ["0.005", "0.015", "-0.025", "2.675", "NaN"]
    with open(path, "w", encoding="utf-8") as fh:
        for v in values:
            fh.write(json.dumps({"a": {"$numberDecimal": v}}) + "\n")
    schema = StructType([StructField("a", DecimalType(6, 2))])
    (batch,) = MongoExportReader(schema, {"path": path}).read(_FilePartition(path))
    assert batch.column("a").to_pylist() == [
        decimal.Decimal(v) for v in ("0.00", "0.02", "-0.02", "2.68")
    ] + [None]
