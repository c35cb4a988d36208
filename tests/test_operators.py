"""Unit tests for the custom operators: as-of join, dedup family,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from mongo_to_parquet_spark.operators import dedup, multimodal, similarity, text
from mongo_to_parquet_spark.operators.asof import asof_join


# ------------------------------------------------------------------ as-of --
def _t(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=s)


def test_asof_basic_and_equal_ts(spark):
    left = spark.createDataFrame(
        [Row(id=1, k="u", t=_t(5)), Row(id=2, k="u", t=_t(10)), Row(id=3, k="u", t=_t(1))]
    )
    right = spark.createDataFrame(
        [Row(k="u", t=_t(2), v="early"), Row(k="u", t=_t(10), v="exact")]
    )
    out = {
        r["id"]: r["v_asof"]
        for r in asof_join(left, right, "k", "t", "t", carry=["v"]).collect()
    }
    assert out[3] is None          # before any right row
    assert out[1] == "early"       # most recent prior
    assert out[2] == "exact"       # equal timestamps match (<=, ASOF semantics)


def test_asof_no_cross_key_leak(spark):
    left = spark.createDataFrame([Row(id=1, k="a", t=_t(5))])
    right = spark.createDataFrame([Row(k="b", t=_t(1), v="other-key")])
    out = asof_join(left, right, "k", "t", "t", carry=["v"]).collect()
    assert out[0]["v_asof"] is None


# ------------------------------------------------------------------ dedup --
def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f"),
            Row(doc_id=2, text="a b c d e f"),            # exact dup of 1
            Row(doc_id=3, text="a b c d e g"),            # near dup (J=5/7)
            Row(doc_id=4, text="x y z w q r"),            # unrelated
        ]
    )


def test_exact_dedup_keeps_min_id(spark):
    kept = {r["doc_id"] for r in dedup.exact_dedup(_docs(spark)).collect()}
    assert kept == {1, 3, 4}


def test_jaccard_pairs_exact_values(spark):
    pairs = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert abs(pairs[(1, 3)] - round(5 / 7, 4)) < 1e-9
    assert abs(pairs[(2, 3)] - round(5 / 7, 4)) < 1e-9
    assert len(pairs) == 3


def test_minhash_finds_exact_dups_and_verifies(spark):
    # exact dups share every band → always candidates; verification is the
    # true Jaccard, so reported pairs are a SUBSET of the exact pairs with
    # identical scores.
    exact = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    mh = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.minhash_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert (1, 2) in mh and mh[(1, 2)] == 1.0
    for pair, j in mh.items():
        assert exact[pair] == j


def test_simhash_exact_dups_distance_zero(spark):
    pairs = {(r["doc1"], r["doc2"]): r["hamming"] for r in dedup.simhash_pairs(_docs(spark)).collect()}
    assert pairs[(1, 2)] == 0


# -------------------------------------------------------------- similarity --
def _emb(spark):
    return spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0], label=0),
            Row(vec_id=1, embedding=[0.9, 0.1, 0.0], label=0),   # closest
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0], label=0),   # orthogonal
            Row(vec_id=3, embedding=[-1.0, 0.0, 0.0], label=1),  # opposite
        ]
    )


def test_brute_force_topk_order(spark):
    got = [r["vec_id"] for r in similarity.brute_force_topk(_emb(spark), probe_id=0, k=3).collect()]
    assert got == [1, 2, 3]  # by descending cosine


def test_pairwise_cosine_blocked(spark):
    rows = similarity.pairwise_cosine(_emb(spark), block_col="label").collect()
    pairs = {(r["id1"], r["id2"]) for r in rows}
    # only intra-label pairs exist
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"]: r["sim"] for r in similarity.brute_force_topk(emb, 0, k=100).collect()}
    approx = similarity.lsh_topk(emb, 0, k=10).collect()
    assert len(approx) > 0
    for r in approx:  # approximate scores must agree with exact scores
        assert exact[r["vec_id"]] == r["sim"]


# -------------------------------------------------------------------- text --
def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [Row(t="the cat and the dog is here"), Row(t="el que la de los"), Row(t="qq ww ee")]
    )
    got = [r["p"] for r in df.select(text.lang_id(F.col("t")).alias("p")).collect()]
    assert got == ["en", "es", "und"]


def test_quality_score_range_and_repetition(spark):
    df = spark.createDataFrame([Row(t="word " * 50), Row(t="a diverse set of many different words here")])
    s = [r["q"] for r in df.select(text.quality_score(F.col("t")).alias("q")).collect()]
    assert all(0.0 <= x <= 1.0 for x in s)
    assert s[1] > s[0]  # repetitive text scores lower


def test_fingerprint_properties(spark):
    base = "one two three four five six seven eight"
    df = spark.createDataFrame([Row(t=base), Row(t=base), Row(t=base + " nine"), Row(t="totally different words")])
    fps = [r["f"] for r in df.select(text.fingerprint(F.col("t")).alias("f")).collect()]
    assert fps[0] == fps[1]       # deterministic: same text → same fingerprint
    assert fps[2] <= fps[0]       # superset of windows can only lower the min
    assert fps[0] != fps[3]


# -------------------------------------------------------------- multimodal --
def test_multimodal_feature_stub(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abc"), Row(doc_id=2, text="abcdef")])
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(media, fake=True, dim=4).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 3 and by_id[2]["n_bytes"] == 6
    assert len(by_id[1]["feature"]) == 4
    # deterministic: same payload → same feature
    again = multimodal.extract_features(media, fake=True, dim=4).collect()
    assert {r["doc_id"]: r["feature"] for r in again} == {r["doc_id"]: r["feature"] for r in feats}


def test_multimodal_real_decode_raises(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="abc")])
    media = multimodal.attach_binary(docs)
    import pytest

    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        multimodal.extract_features(media, fake=False).collect()


def test_multimodal_resize_stub_shrinks_payloads(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdefgh"), Row(doc_id=2, text="xy")]
    )
    media = multimodal.attach_binary(docs)
    out = {r["doc_id"]: r for r in multimodal.resize_media(media, scale_div=4, fake=True).collect()}
    assert out[1]["n_bytes_in"] == 8 and out[1]["n_bytes_out"] == 2
    assert bytes(out[1]["payload"]) == b"ae"  # every 4th byte, deterministic
    assert out[2]["n_bytes_out"] == 1
    # real decode path is gated, like extract_features
    import pytest

    with pytest.raises(Exception):
        multimodal.resize_media(media, fake=False).collect()


def test_jaccard_bitset_and_explode_paths_agree(spark):
    # a 74-token vocabulary takes the WIDE (2-word) bitset form when the
    # knob allows it and the explode path otherwise — identical pairs
    # either way; the ≤64 case exercises the scalar-long form vs explode.
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{j}" for j in range(i, i + 70))) for i in range(5)]
    )
    a = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(docs, 0.8, strategy="explode").collect()
    )
    b = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(docs, 0.8, bitmask_max_vocab=10**6).collect()
    )
    assert a == b and len(a) > 0
    small = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{j}" for j in range(0, 10 + i))) for i in range(6)]
    )
    c = sorted((r.doc1, r.doc2, r.jaccard) for r in dedup.jaccard_pairs(small, 0.5).collect())
    d = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(small, 0.5, bitmask_max_vocab=0).collect()
    )
    assert c == d


def test_jaccard_strategy_routes_by_corpus_size():
    # small+dense → bitset; small sparse-vocab → explode; large → prefix
    # (the exact API's 100 TB-safe path — hot shingles never join)
    assert dedup.jaccard_strategy(1_000, True) == "bitset"
    assert dedup.jaccard_strategy(1_000, False) == "explode"
    assert dedup.jaccard_strategy(500_000, False) == "prefix"
    # a >broadcastable corpus can't take bitset even with a tiny vocab
    assert dedup.jaccard_strategy(500_000, True) == "prefix"
    assert dedup.jaccard_strategy(10**9, False) == "prefix"
    # the round-8 ×10 finding: doc count alone is not a safe explode
    # criterion — a hot-boilerplate corpus under the doc cap must route
    # prefix when its exact join volume Σ n_t² exceeds the pair bound
    assert dedup.jaccard_strategy(50_000, False, candidate_pairs=4 * 10**9) == "prefix"
    assert dedup.jaccard_strategy(50_000, False, candidate_pairs=10**6) == "explode"
    # the census never overrides bitset (vocab fits, corpus broadcastable)
    assert dedup.jaccard_strategy(50_000, True, candidate_pairs=4 * 10**9) == "bitset"


def test_jaccard_prefix_path_is_exact(spark, sf_dir):
    """The prefix-filtered candidate join must return the IDENTICAL pair
    set + values as the all-token explode join (it is a pruning, not an
    approximation) — including under a shared hot boilerplate shingle."""
    from mongo_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    a = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(docs, 0.3, ngram=3, strategy="explode").collect()
    )
    b = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(docs, 0.3, ngram=3, strategy="prefix").collect()
    )
    assert a == b and len(a) > 0
    # boilerplate stress: every doc shares one hot token; near-dups exist
    from pyspark.sql import Row as R

    boiler = spark.createDataFrame(
        [
            R(doc_id=i, text="common header " + " ".join(f"tok{i}_{j}" for j in range(8)))
            for i in range(30)
        ]
        + [R(doc_id=100, text="common header " + " ".join(f"tok5_{j}" for j in range(8)))]
    )
    e = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(boiler, 0.5, strategy="explode").collect()
    )
    p = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in dedup.jaccard_pairs(boiler, 0.5, strategy="prefix").collect()
    )
    assert e == p and (5, 100, 1.0) in p


def test_batch_topk_matches_per_probe(spark, sf_dir):
    """One-scan batched ANN equals N independent exact scans."""
    from mongo_to_parquet_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_batch,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    batch = brute_force_topk_batch(emb, probe_ids=[0, 3, 7], k=5)
    got = {
        (r["probe_id"], r["rk"]): (r["vec_id"], r["sim"]) for r in batch.collect()
    }
    for pid in (0, 3, 7):
        single = brute_force_topk(emb, probe_id=pid, k=5).collect()
        for rk, r in enumerate(single, start=1):
            assert got[(pid, rk)] == (r["vec_id"], r["sim"])


def test_theta_range_banding_meets_every_pair_once(spark, tmp_path):
    """Pairs that straddle a 5-min bucket boundary (and exact-boundary
    deltas) are each found exactly once by the banded range join."""
    import datetime as dt

    from pyspark.sql import Row

    from mongo_to_parquet_spark.queries.relational import QUERIES

    base = dt.datetime(2024, 1, 1, 0, 4, 59)  # 1 s before a bucket edge
    rows = [
        Row(event_id=1, ts=base, user_id=7, event_type="x", value=0.0, props="{}"),
        Row(event_id=2, ts=base + dt.timedelta(seconds=2), user_id=7,
            event_type="x", value=0.0, props="{}"),                      # crosses edge
        Row(event_id=3, ts=base + dt.timedelta(minutes=5), user_id=7,
            event_type="x", value=0.0, props="{}"),                      # exactly 300 s from 1
        Row(event_id=4, ts=base + dt.timedelta(minutes=11), user_id=7,
            event_type="x", value=0.0, props="{}"),                      # out of range of all
        Row(event_id=5, ts=base + dt.timedelta(seconds=2), user_id=8,
            event_type="x", value=0.0, props="{}"),                      # other user
    ]
    d = str(tmp_path / "events_micro")
    spark.createDataFrame(rows).write.parquet(f"{d}/events.parquet")
    got = sorted(
        (r["id1"], r["id2"], r["delta_us"])
        for r in QUERIES["q_join_theta_range"](spark, d).collect()
    )
    assert got == [
        (1, 2, 2_000_000),
        (1, 3, 300_000_000),   # inclusive upper bound
        (2, 3, 298_000_000),
    ]


def test_dedup_operators_degenerate_inputs(spark):
    """Empty, single-doc, and null-text corpora flow through every dedup
    operator without error (empty vocab must not reach the bitset path:
    create_map() with zero entries cannot be keyed)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    empty = spark.createDataFrame([], schema)
    assert dedup.exact_groups(empty).count() == 0
    assert dedup.jaccard_pairs(empty, 0.8).count() == 0
    assert dedup.minhash_pairs(empty, 0.8).count() == 0
    assert dedup.simhash_pairs(empty).count() == 0
    one = spark.createDataFrame([(1, "a b c")], schema)
    assert dedup.jaccard_pairs(one, 0.8).count() == 0
    null_text = spark.createDataFrame([(1, None), (2, "a b")], schema)
    assert dedup.jaccard_pairs(null_text, 0.0).count() == 0
    assert dedup.exact_groups(null_text).count() == 2  # null hash is its own group


def test_ivf_layout_probe_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """The IVF-as-layout probe returns exactly what the inline ivf_topk
    computes (same deterministic centroids), and its cell filter reaches
    the scan as a PARTITION filter — only n_probe of n_cells directories
    are read."""
    from mongo_to_parquet_spark.operators.similarity import (
        build_ivf_layout,
        ivf_topk,
        ivf_topk_from_layout,
    )
    from mongo_to_parquet_spark.plans.checks import formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "ivf")
    build_ivf_layout(emb, layout, n_cells=8)
    probe_vec = emb.filter("vec_id = 0").collect()[0]["embedding"]
    got = ivf_topk_from_layout(
        spark, layout, probe_vec, k=10, n_probe=3, exclude_id=0
    )
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan
    inline = ivf_topk(emb, probe_id=0, k=10, n_cells=8, n_probe=3).collect()
    assert [(r["vec_id"], r["sim"]) for r in got.collect()] == [
        (r["vec_id"], r["sim"]) for r in inline
    ]


def test_ivfpq_layout_prunes_cells_and_recalls_top1(spark, sf_dir, tmp_path):
    """The composed IVF×PQ layout: the probe's cell filter reaches the
    CODE table scan as a PARTITION filter (the fp32 vectors are never
    read at serve time — the scan's schema has no embedding column), the
    ADC lookup is a LITERAL map folded into the projection (round 11: no
    join at all — the per-call createDataFrame+broadcast dominated serve
    latency), and the quantized ranking still finds the exact top-1
    neighbor inside its pruned cells (the fixtures' near-dup pairs are
    far closer than quantization error)."""
    from mongo_to_parquet_spark.operators.similarity import (
        brute_force_topk,
        build_ivfpq_layout,
        ivfpq_topk_from_layout,
    )
    from mongo_to_parquet_spark.plans.checks import formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "ivfpq")
    build_ivfpq_layout(emb, layout, n_cells=8)
    probe_vec = emb.filter("vec_id = 0").collect()[0]["embedding"]
    got = ivfpq_topk_from_layout(
        spark, layout, probe_vec, k=10, n_probe=3, exclude_id=0
    )
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan
    # the ADC table rides as a literal map — NO join of any kind remains
    assert "Join" not in plan
    assert "element_at" in plan or "map(" in plan
    # serve path must read codes only — no fp32 embedding column anywhere
    assert "embedding" not in plan.split("== Physical Plan ==")[-1]
    rows = got.collect()
    assert len(rows) == 10
    exact_top1 = brute_force_topk(emb, probe_id=0, k=1).collect()[0]["vec_id"]
    assert exact_top1 in {r["vec_id"] for r in rows}


def test_ivfpq_refine_reads_only_shortlist_vectors(spark, sf_dir, tmp_path):
    """Two-stage refine: the exact re-rank stage must read ONLY the k′
    shortlist vectors — the collected ids reach the embedding scan as a
    pushed-down IN filter (never a full fp32 scan), and the returned
    ranking is bit-identical to a driver-side numpy recompute of cosine
    over exactly those ids."""
    import math

    from mongo_to_parquet_spark.operators.similarity import (
        build_ivfpq_layout,
        ivfpq_topk_from_layout,
        ivfpq_topk_refined_from_layout,
    )
    from mongo_to_parquet_spark.plans.checks import count_nodes, formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "ivfpq")
    build_ivfpq_layout(emb, layout, n_cells=8)
    probe_vec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    got = ivfpq_topk_refined_from_layout(
        spark, layout, emb, probe_vec, k=10, shortlist=25, n_probe=3, exclude_id=0
    )
    plan = formatted_plan(got)
    physical = plan.split("== Physical Plan ==")[-1]
    # stage-2 plan: ONE embedding scan with the shortlist ids pushed down
    assert "In(vec_id" in physical
    assert count_nodes(got, "Scan parquet") == 1
    # naive recompute: cosine over exactly the shortlist ids, 4dp, id ties
    ids = [
        r["vec_id"]
        for r in ivfpq_topk_from_layout(
            spark, layout, probe_vec, k=25, n_probe=3, exclude_id=0
        ).collect()
    ]
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(ids)).collect()
    }
    pn = math.sqrt(sum(x * x for x in probe_vec))
    naive = sorted(
        (
            (
                round(
                    sum(a * b for a, b in zip(v, probe_vec))
                    / (math.sqrt(sum(x * x for x in v)) * pn),
                    4,
                ),
                i,
            )
            for i, v in vecs.items()
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [(r["vec_id"], r["sim"]) for r in got.collect()] == [
        (i, s) for s, i in naive
    ]


def test_ivfpq_append_equals_oneshot_rebuild(spark, sf_dir, tmp_path):
    """The incremental contract: build(base) + append(delta) must leave a
    layout IDENTICAL to one-shot-writing the full corpus encoded with the
    SAME frozen quantizers — code rows equal as a set, serve results
    equal row-for-row, and the appended layout still partition-prunes."""
    from mongo_to_parquet_spark.operators.similarity import (
        _assign_cells,
        build_ivfpq_layout,
        ivfpq_append,
        ivfpq_topk_from_layout,
        pq_encode_frozen,
    )
    from mongo_to_parquet_spark.plans.checks import formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    inc = str(tmp_path / "inc")
    build_ivfpq_layout(base, inc)
    ivfpq_append(delta, inc)
    # one-shot: encode + assign the FULL corpus with the layout's frozen
    # quantizers, write a fresh layout from it
    cents = spark.read.parquet(f"{inc}/centroids")
    codebook = spark.read.parquet(f"{inc}/codebook")
    rng = spark.read.parquet(f"{inc}/rng")
    full = str(tmp_path / "full")
    codes = pq_encode_frozen(emb, codebook, rng)
    assigned = _assign_cells(emb, F.broadcast(cents), "vec_id", "embedding")
    codes.join(assigned.select("vec_id", "cell"), "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{full}/codes")
    for sub in ("centroids", "codebook", "rng"):
        spark.read.parquet(f"{inc}/{sub}").write.parquet(f"{full}/{sub}")
    rows = lambda d: {  # noqa: E731
        (r["vec_id"], r["sub"], r["cid"], str(r["cell"]))
        for r in spark.read.parquet(f"{d}/codes").collect()
    }
    assert rows(inc) == rows(full)
    pv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    serve = lambda d: [  # noqa: E731
        (r["vec_id"], r["pq_dist"])
        for r in ivfpq_topk_from_layout(
            spark, d, pv, k=10, n_probe=4, exclude_id=0
        ).collect()
    ]
    got = ivfpq_topk_from_layout(spark, inc, pv, k=10, n_probe=4, exclude_id=0)
    assert "PartitionFilters" in formatted_plan(got)  # pruning survives append
    assert serve(inc) == serve(full)


def test_batch_refine_matches_single_probe_refine(spark, sf_dir, tmp_path):
    """The batched two-stage path must return, per probe, EXACTLY what
    the single-probe refine returns (same shortlist, same exact re-rank,
    same ties) — and its re-rank plan must read only the shortlist union
    via IN pushdown, never a full fp32 scan."""
    from mongo_to_parquet_spark.operators.similarity import (
        build_ivfpq_layout,
        ivfpq_topk_batch_refined_from_layout,
        ivfpq_topk_refined_from_layout,
    )
    from mongo_to_parquet_spark.plans.checks import count_nodes, formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "ivfpq")
    build_ivfpq_layout(emb, layout, n_cells=8)
    probe_ids = [0, 1, 2, 3]
    # probe batch as a LITERAL relation (the serving shape — probes arrive
    # from a stream, not from the corpus table), so the re-rank plan's only
    # parquet scan is the shortlist fetch
    probes = spark.createDataFrame(
        [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id").isin(probe_ids)).collect()
        ],
        "vec_id long, embedding array<double>",
    )
    batch = ivfpq_topk_batch_refined_from_layout(
        spark, layout, probes, emb, k=5, shortlist=20, n_probe=3
    )
    plan = formatted_plan(batch).split("== Physical Plan ==")[-1]
    assert "In(vec_id" in plan
    assert count_nodes(batch, "Scan parquet") == 1  # emb fetch only
    got = {}
    for r in batch.collect():
        got.setdefault(r["probe_id"], []).append((r["rk"], r["vec_id"], r["sim"]))
    for pid in probe_ids:
        pv = [float(x) for x in emb.filter(F.col("vec_id") == pid).head()["embedding"]]
        single = [
            (i + 1, r["vec_id"], r["sim"])
            for i, r in enumerate(
                ivfpq_topk_refined_from_layout(
                    spark, layout, emb, pv, k=5, shortlist=20, n_probe=3,
                    exclude_id=pid,
                ).collect()
            )
        ]
        assert sorted(got[pid]) == single


def test_refine_recall_dominates_raw_pq(spark, sf_dir):
    """The point of stage 2: exact re-ranking can only IMPROVE recall
    over raw ADC ranking (quantization error is confined to shortlist
    membership — every true neighbor that survives the shortlist is
    ranked exactly). Pinned against the raw-PQ recall row."""
    from mongo_to_parquet_spark.queries import queries

    qs = queries()
    raw = qs["q_eval_ann_recall_pq"](spark, sf_dir).collect()[0]
    ref = qs["q_eval_ann_recall_pq_refine"](spark, sf_dir).collect()[0]
    assert ref["hits"] >= raw["hits"]
    # the true top-1 made the 50-shortlist, so exact re-rank puts it first
    assert ref["top1_rank"] in (0, 1)


def test_python_udtf_matches_explode(spark, sf_dir):
    """The @udtf escape hatch returns exactly what the JVM explode path
    returns (which is why the declared query uses explode — same result,
    no Python boundary)."""
    from mongo_to_parquet_spark.queries.udf import QUERIES as UQ, tokenize_udtf
    from mongo_to_parquet_spark.sources.catalog import register_views

    spark.udtf.register("tokenize_py", tokenize_udtf())
    register_views(spark, sf_dir)
    via_udtf = spark.sql(
        "SELECT doc_id, t.token FROM documents, LATERAL tokenize_py(text) t"
    )
    via_explode = UQ["q_udtf_split"](spark, sf_dir)
    a = sorted(map(tuple, via_udtf.collect()))
    b = sorted(map(tuple, via_explode.collect()))
    assert a == b


def test_minhash_bucket_cap_diverts_identical_docs(spark):
    """With a bucket-size cap, a mega-cluster of identical docs no longer
    feeds the quadratic candidate join — its pairs arrive through the
    full-signature diversion and still verify at jaccard 1.0; normal
    near-dup pairs outside oversized buckets are unaffected."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="same boilerplate text here") for i in range(30)]
        + [
            Row(doc_id=100, text="alpha beta gamma delta epsilon"),
            Row(doc_id=101, text="alpha beta gamma delta zeta"),
        ]
    )
    capped = dedup.minhash_pairs(docs, threshold=0.6, max_bucket_size=5)
    got = {(r.doc1, r.doc2): r.jaccard for r in capped.collect()}
    # all 30*29/2 identical pairs found via the diversion, at 1.0
    ident = {(a, b) for a in range(30) for b in range(30) if a < b}
    assert ident <= set(got)
    assert all(got[p] == 1.0 for p in ident)
    # the small-bucket near-dup pair is still found the normal way
    assert (100, 101) in got


def test_pack_documents_sharded_and_global(spark, sf_dir):
    """Sequence packing: global and sharded paths cover every doc exactly
    once with identical token totals; bins are contiguous from 0 in the
    global path."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.text import pack_documents
    from mongo_to_parquet_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    g = pack_documents(d, budget_tokens=512)
    assert g.count() == d.count()
    bins = [r["bin"] for r in g.select("bin").distinct().orderBy("bin").collect()]
    assert bins[0] == 0 and bins == list(range(len(bins)))
    s = pack_documents(
        d.withColumn("shard", F.pmod(F.hash("doc_id"), F.lit(4))), shard_col="shard"
    )
    assert s.count() == d.count()
    assert (
        s.agg(F.sum("n_tokens")).collect()[0][0]
        == g.agg(F.sum("n_tokens")).collect()[0][0]
    )


def test_approx_percentile_within_rank_error(spark, sf_dir):
    """q_agg_approx_percentile_native (bench-only GK sketch): each
    sketched quantile must be an actual data value whose rank is within
    GK rank error (eps = 1/accuracy, plus one for boundary rounding) of
    the target rank in the group's sorted values. (The DECLARED key is
    the deterministic-sample KMV twin, oracle-checked by the driver.)"""
    from mongo_to_parquet_spark.queries.relational import (
        q_agg_approx_percentile_native,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    approx = {
        r["event_type"]: r
        for r in q_agg_approx_percentile_native(spark, sf_dir).collect()
    }
    eps = 1.0 / 10000
    rows = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        for qname, qv in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            got = approx[et][qname]
            lo_rank = max(int((qv - eps) * (n - 1)) - 1, 0)
            hi_rank = min(int((qv + eps) * (n - 1)) + 2, n - 1)
            assert vals[lo_rank] - 1e-9 <= got <= vals[hi_rank] + 1e-9, (
                et, qname, got, vals[lo_rank], vals[hi_rank])


def test_salted_join_preserves_multiplicity_and_outer_rows(spark):
    """salted_join ≡ plain join, including duplicate dim keys (row
    multiplicity) and left-outer unmatched rows (null fill, once each)."""
    from mongo_to_parquet_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(10)] + [(2, 10), (3, 11)], "k int, line int"
    )
    dim = spark.createDataFrame(  # k=1 duplicated: every fact row matches twice
        [(1, "a"), (1, "b"), (2, "c")], "k int, tag string"
    )
    for how in ("inner", "left"):
        got = salted_join(fact, dim, on=["k"], salt_from="line", n_salt=4, how=how)
        want = fact.join(dim, on=["k"], how=how)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), how


def test_salted_distinct_count_matches_exact(spark):
    """salted_distinct_count is EXACT for any salt width, including a
    degenerate all-one-group skew and values colliding across groups."""
    import random

    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.skew import salted_distinct_count

    rng = random.Random(7)
    rows = [("hot" if rng.random() < 0.9 else f"g{rng.randint(0, 3)}", rng.randint(0, 500))
            for _ in range(5000)]
    df = spark.createDataFrame(rows, "g string, v int")
    for n_salt in (1, 7, 64):
        got = {
            r["g"]: r["n_distinct"]
            for r in salted_distinct_count(df, ["g"], "v", n_salt=n_salt).collect()
        }
        want = {
            r["g"]: r["n"]
            for r in df.groupBy("g").agg(F.count_distinct("v").alias("n")).collect()
        }
        assert got == want, n_salt


def test_connected_components_chain_and_blobs(spark):
    """Transitive closure: a 6-node chain (diameter > 1 round) collapses to
    one component; disjoint blobs keep distinct min-ids; convergence stops
    early; a cycle does not loop forever."""
    from mongo_to_parquet_spark.operators.dedup import connected_components

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),      # chain 1..6
             (10, 11), (11, 12), (10, 12),                # triangle (cycle)
             (20, 21)]                                    # simple pair
    df = spark.createDataFrame(pairs, "doc1 long, doc2 long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_hll_sketch_union_within_error(spark, sf_dir):
    """q_agg_hll_sketch_native (bench-only DataSketches HLL): per-type
    and union-merged estimates within 5% of exact distinct counts; the
    merged total equals a direct whole-table sketch (mergeability, the
    incremental-rollup property). (The DECLARED key is the KMV twin,
    oracle-checked by the driver.)"""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.queries.relational import q_agg_hll_sketch_native
    from mongo_to_parquet_spark.sources.catalog import load_table

    got = {
        r["event_type"]: r["approx_users"]
        for r in q_agg_hll_sketch_native(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    exact["__total__"] = e.agg(F.count_distinct("user_id")).collect()[0][0]
    assert got.keys() == exact.keys()
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(0.05 * exact[k], 2), (k, est, exact[k])
    direct = e.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))).collect()[0][0]
    assert got["__total__"] == direct


def test_kmv_twins_estimate_quality(spark, sf_dir):
    """The hash-checkable KMV twins (functions/sketch.py) must be real
    ESTIMATORS, not just oracle-matching arithmetic: with k=64 the RSE is
    ≈12.7%, so every estimate must land within 3σ (±38%) of the exact
    distinct count, and on the sf0.01 fixture (150 distinct users > k)
    the estimator branch — not the exact small-sketch branch — must be
    the one that ran (estimate ≠ exact)."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.functions.sketch import DEFAULT_K
    from mongo_to_parquet_spark.queries.relational import (
        q_agg_approx_distinct,
        q_agg_hll_sketch,
        q_profile_approx,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    exact_users = e.agg(F.count_distinct("user_id")).collect()[0][0]
    est = q_agg_approx_distinct(spark, sf_dir).collect()[0]["approx_users"]
    assert abs(est - exact_users) <= 0.38 * exact_users, (est, exact_users)
    if exact_users > DEFAULT_K:
        assert est != exact_users  # estimator branch engaged, not m<k exact

    # per-type + merged-total sketches: same 3σ bound per row
    exact_per = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact_per["__total__"] = exact_users
    for r in q_agg_hll_sketch(spark, sf_dir).collect():
        ex = exact_per[r["event_type"]]
        assert abs(r["approx_users"] - ex) <= max(0.38 * ex, 2), (
            r["event_type"], r["approx_users"], ex)

    # profile twin: n_distinct per column within 3σ of exact; null counts
    # and min/max reprs are exact by construction
    o = load_table(spark, sf_dir, "orders")
    prof = {r["col_name"]: r for r in q_profile_approx(spark, sf_dir).collect()}
    for col in ("o_orderkey", "o_custkey", "o_orderstatus"):
        ex = o.agg(F.count_distinct(col)).collect()[0][0]
        got = prof[col]["n_distinct"]
        assert abs(got - ex) <= max(0.38 * ex, 2), (col, got, ex)
        assert prof[col]["n_nulls"] == 0


def test_percentile_sample_twin_within_rank_error(spark, sf_dir):
    """q_agg_approx_percentile (declared key, deterministic md5 sample):
    each estimate must be within sampling rank error — 4σ with
    σ = √(q(1−q)/m) for a uniform m-row sample — of the group's exact
    value-at-rank envelope."""
    from mongo_to_parquet_spark.queries.relational import q_agg_approx_percentile
    from mongo_to_parquet_spark.sources.catalog import load_table

    approx = {
        r["event_type"]: r for r in q_agg_approx_percentile(spark, sf_dir).collect()
    }
    rows = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    groups: dict[str, list[float]] = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        m = max(n // 4, 1)  # expected sample size at p = 1/4
        for qname, qv in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            got = approx[et][qname]
            sigma = (qv * (1 - qv) / m) ** 0.5
            lo = max(int((qv - 4 * sigma) * (n - 1)) - 1, 0)
            hi = min(int((qv + 4 * sigma) * (n - 1)) + 2, n - 1)
            assert vals[lo] - 1e-9 <= got <= vals[hi] + 1e-9, (
                et, qname, got, vals[lo], vals[hi])


# ----------------------------------------------------------- chunk / merge --
def test_chunk_documents_windows_and_tail(spark):
    """window=4, stride=3 over a 10-token doc → starts 1,4,7,10: three full
    or partial windows with 1-token overlap, tail chunk of 1 token."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h i j"), Row(doc_id=2, text="x")]
    )
    out = (
        text.chunk_documents(docs, window=4, stride=3)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    d1 = [(r.chunk_idx, r.chunk_text, r.n_tokens) for r in out if r.doc_id == 1]
    assert d1 == [
        (0, "a b c d", 4),
        (1, "d e f g", 4),
        (2, "g h i j", 4),
        (3, "j", 1),
    ]
    # shorter-than-window doc: exactly one chunk, the whole text
    assert [(r.chunk_idx, r.chunk_text, r.n_tokens) for r in out if r.doc_id == 2] == [
        (0, "x", 1)
    ]


def test_chunk_partition_mode_covers_exactly(spark):
    """stride == window → chunks partition the token sequence."""
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
    out = text.chunk_documents(docs, window=2, stride=2).collect()
    toks = [t for r in sorted(out, key=lambda r: r.chunk_idx) for t in r.chunk_text.split(" ")]
    assert toks == ["a", "b", "c", "d", "e"]
    assert sum(r.n_tokens for r in out) == 5


def test_unigram_logprob_orders_rare_docs_last(spark):
    """Docs of common tokens score lower nll than docs of hapaxes."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the the the the"),
            Row(doc_id=2, text="qzx wvu jkl mno"),
            Row(doc_id=3, text="the the qzx the"),
        ]
    )
    out = {r.doc_id: r for r in text.unigram_logprob(docs).collect()}
    assert out[1].nll < out[3].nll < out[2].nll
    assert out[1].n_tokens == 4
    # doc1: all tokens 'the' with corpus count 7 of 12 → nll = -ln(7/12)
    import math

    assert abs(out[1].nll - (-math.log(7 / 12))) < 1e-3


def test_merge_upsert_semantics(spark):
    from mongo_to_parquet_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=9, v="new")])
    got = {r.k: r.v for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}


def test_curation_pipeline_branches(spark, tmp_path):
    """All four dispositions on a synthetic corpus: quality reject, exact
    duplicate (higher id of an identical quality text), train/test split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    good = "alpha beta gamma delta epsilon zeta " * 4  # ~140 chars, mwl ok
    rows = {
        "doc_id": [1, 2, 3, 4],
        "text": [good, good, "short", good + "unique tail"],
        "lang": ["en", "en", "en", "zh"],
        "n_chars": [len(good), len(good), 5, len(good + "unique tail")],
        "source": ["s"] * 4,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    from mongo_to_parquet_spark.queries.llm import QUERIES

    out = {
        r.doc_id: r.disposition
        for r in QUERIES["q_curation_pipeline"](spark, str(tmp_path)).collect()
    }
    assert out[2] == "duplicate"          # same text as doc 1, higher id
    assert out[3] == "rejected_quality"   # too short
    assert out[4] == "rejected_quality"   # lang not in allowlist
    assert out[1] in ("train", "test")    # survivor gets a split


def test_incremental_export_ships_only_new_rows(spark, sf_dir, tmp_path):
    # run 1 exports the old half and sets the high-water mark; run 2 over
    # the FULL table appends only rows past the mark (no re-copy, no
    # dupes); run 3 with nothing new is a no-op
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.sources.export import export_incremental

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    lo, hi = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    cut = lo + (hi - lo) / 2
    old = orders.filter(F.col("o_orderdate") <= F.lit(cut))
    out = str(tmp_path / "orders_inc")

    n1 = export_incremental(old, out, "o_orderdate")
    assert n1 == old.count()

    n2 = export_incremental(orders, out, "o_orderdate")
    assert n2 == orders.count() - n1 and n2 > 0

    readback = spark.read.parquet(out)
    assert readback.count() == orders.count()
    assert readback.select("o_orderkey").distinct().count() == orders.count()

    assert export_incremental(orders, out, "o_orderdate") == 0


def test_audio_windows_cover_and_tile(spark):
    """Window manifest invariants: hop spacing, constant width, full
    coverage of [0, n_samples - win], sub-window clips yield nothing."""
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.multimodal import audio_windows

    media = spark.createDataFrame(
        [Row(doc_id=1, n_samples=6400), Row(doc_id=2, n_samples=6399),
         Row(doc_id=3, n_samples=6400 + 2560 * 3 + 1)]
    )
    rows = audio_windows(media).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc                      # shorter than one window
    assert [r["start_sample"] for r in by_doc[1]] == [0]
    w3 = sorted(by_doc[3], key=lambda r: r["win_idx"])
    assert [r["start_sample"] for r in w3] == [0, 2560, 5120, 7680]
    for r in w3:
        assert r["end_sample"] - r["start_sample"] == 6400
        assert r["end_sample"] <= 6400 + 2560 * 3 + 1
        assert r["start_ms"] == r["win_idx"] * 160


def test_arrow_and_pandas_featurizers_agree(spark, sf_dir):
    """mapInArrow and mapInPandas featurizer paths produce identical
    features for identical payloads (same deterministic stub, different
    exchange)."""
    from mongo_to_parquet_spark.operators.multimodal import (
        attach_binary,
        extract_features,
        extract_features_arrow,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    m = attach_binary(load_table(spark, sf_dir, "documents").limit(50))
    a = {r["doc_id"]: (r["n_bytes"], r["feature"]) for r in extract_features(m, fake=True).collect()}
    b = {r["doc_id"]: (r["n_bytes"], r["feature"]) for r in extract_features_arrow(m, fake=True).collect()}
    assert a == b and len(a) == 50


def test_flatten_structs_recursive_and_collision(spark):
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators import nested

    df = spark.createDataFrame(
        [
            Row(
                _id=1,
                user=Row(name="ann", address=Row(city="oslo", zip="0150")),
                tags=["a", "b"],
                n=7,
            )
        ]
    )
    flat = nested.flatten_structs(df)
    assert set(flat.columns) == {
        "_id", "user_name", "user_address_city", "user_address_zip", "tags", "n",
    }
    r = flat.collect()[0]
    assert r["user_address_city"] == "oslo" and r["tags"] == ["a", "b"]

    # collision must raise, not shadow
    import pytest

    bad = spark.createDataFrame([Row(a=Row(b=1), a_b=2)])
    with pytest.raises(ValueError, match="collision"):
        nested.flatten_structs(bad)


def test_normalize_array_child_table(spark):
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators import nested

    df = spark.createDataFrame(
        [Row(doc_id=1, tags=["x", "y"]), Row(doc_id=2, tags=[]), Row(doc_id=3, tags=None)]
    )
    inner = nested.normalize_array(df, "tags", ["doc_id"])
    assert {(r["doc_id"], r["idx"], r["element"]) for r in inner.collect()} == {
        (1, 0, "x"), (1, 1, "y"),
    }
    outer = nested.normalize_array(df, "tags", ["doc_id"], keep_empty=True)
    got = {(r["doc_id"], r["idx"], r["element"]) for r in outer.collect()}
    assert got == {(1, 0, "x"), (1, 1, "y"), (2, None, None), (3, None, None)}


def test_infer_parse_flatten_roundtrip(spark, sf_dir):
    """The Mongo-ingestion idiom on the events fixture: infer the props
    schema from a sample, parse + flatten, and the flattened field equals
    the direct json_extract."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators import nested
    from mongo_to_parquet_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    schema = nested.infer_json_schema(spark, ev, "props")
    assert "k" in schema.fieldNames()
    flat = nested.parse_and_flatten(ev, "props", schema)
    assert "props_k" in flat.columns
    direct = ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("want")
    )
    bad = (
        flat.select("event_id", F.col("props_k").cast("long").alias("got"))
        .join(direct, "event_id")
        .filter(F.col("got") != F.col("want"))
    )
    assert bad.count() == 0


def test_snapshot_diff_classes_and_null_handling(spark):
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.diff import diff_summary, snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v=None), Row(k=4, v="gone")]
    )
    new = spark.createDataFrame(
        [Row(k=1, v="a"),        # unchanged
         Row(k=2, v="B"),        # changed
         Row(k=3, v=None),       # unchanged (null == null)
         Row(k=5, v="fresh")]    # added
    )
    d = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert d == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "removed", 5: "added"}
    s = {r["change_type"]: r["n"] for r in diff_summary(snapshot_diff(old, new, ["k"], ["v"])).collect()}
    assert s == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_apply_cdc_latest_op_wins_and_deletes_drop(spark):
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.merge import apply_cdc

    log = spark.createDataFrame(
        [
            Row(k=1, op="I", seq=1, v="a"),
            Row(k=1, op="U", seq=2, v="b"),   # latest for k=1
            Row(k=2, op="I", seq=1, v="x"),
            Row(k=2, op="D", seq=2, v=None),  # k=2 deleted
            Row(k=3, op="D", seq=1, v=None),
            Row(k=3, op="I", seq=2, v="re"),  # re-insert AFTER delete survives
            Row(k=4, op="U", seq=5, v="dup"),
            Row(k=4, op="U", seq=5, v="dup"),  # at-least-once replay: same row twice
        ]
    )
    got = {r["k"]: r["v"] for r in apply_cdc(log, ["k"], ["seq"]).collect()}
    assert got == {1: "b", 3: "re", 4: "dup"}
    assert "op" not in apply_cdc(log, ["k"], ["seq"]).columns


def test_merge_scd2_all_four_branches(spark):
    import datetime as dt

    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.merge import merge_scd2

    t0, t9, eff = (
        dt.datetime(1990, 1, 1),
        dt.datetime(1995, 1, 1),
        dt.datetime(1998, 6, 1),
    )
    dim = spark.createDataFrame(
        [
            Row(k=1, attr="old", valid_from=t0, valid_to=t9),   # history row
            Row(k=1, attr="cur", valid_from=t9, valid_to=None),  # will change
            Row(k=2, attr="same", valid_from=t0, valid_to=None),  # no-op update
            Row(k=3, attr="keep", valid_from=t0, valid_to=None),  # no update
        ]
    )
    upd = spark.createDataFrame(
        [
            Row(k=1, attr="new", eff=eff),
            Row(k=2, attr="same", eff=eff),
            Row(k=9, attr="born", eff=eff),  # brand-new key
        ]
    )
    out = merge_scd2(dim, upd, keys=["k"], tracked=["attr"], effective_col="eff")
    rows = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"]) for r in out.collect()
    )
    assert rows == sorted(
        [
            (1, "old", t0, t9),      # history untouched
            (1, "cur", t9, eff),     # current closed at effective ts
            (1, "new", eff, None),   # new open version
            (2, "same", t0, None),   # no-op update leaves row open
            (3, "keep", t0, None),   # unmatched key untouched
            (9, "born", eff, None),  # brand-new key inserted open
        ]
    )


def test_span_dedup_drops_repeats_keeps_first(spark):
    # spans are 2-token windows; "a b" repeats (doc 1 idx 0 is first);
    # doc 3 is entirely boilerplate and cleans to ''
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d"),        # spans: "a b", "c d"
            Row(doc_id=2, text="x y a b"),        # "a b" at idx 1 -> dropped
            Row(doc_id=3, text="a b"),            # whole doc duplicated
        ]
    )
    from mongo_to_parquet_spark.operators.dedup import span_dedup

    out = {r["doc_id"]: r for r in span_dedup(docs, span_tokens=2).collect()}
    assert out[1]["n_dropped"] == 0 and out[1]["cleaned_text"] == "a b c d"
    assert out[2]["n_dropped"] == 1 and out[2]["cleaned_text"] == "x y"
    assert out[3]["n_dropped"] == 1 and out[3]["cleaned_text"] == ""
    assert out[2]["n_spans"] == 2 and out[3]["n_spans"] == 1


def test_star_cc_matches_min_label_on_random_graphs(spark):
    # both algorithms must produce identical (node, comp) labelings on a
    # batch of assorted graphs: blobs, bridges, isolated pairs
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    cases = [
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22), (22, 23)],
        [(5, 1), (1, 9), (9, 7), (2, 8)],          # chain + pair
        [(1, 2)],                                   # single edge
        [(3, 3), (4, 5), (5, 4)],                   # self-loop + dup edges
    ]
    for edges in cases:
        pairs = spark.createDataFrame(
            [Row(doc1=a, doc2=b) for a, b in edges]
        )
        a = {
            (r["node"], r["comp"])
            for r in connected_components(pairs).collect()
        }
        b = {
            (r["node"], r["comp"])
            for r in connected_components_star(pairs).collect()
        }
        # min-label includes self-loop-only nodes; star drops isolated
        # self-loops (no real edge) — compare on nodes with real edges
        real = {x for e in edges for x in e if e[0] != e[1]}
        assert {p for p in a if p[0] in real} == {p for p in b if p[0] in real}


def test_star_cc_solves_long_chain_in_log_rounds(spark):
    # a 200-edge path has diameter 200: min-label propagation cannot
    # finish in 10 rounds (raises), star contraction finishes well within
    # 10 and labels every node with the chain's minimum
    import pytest as _pytest
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [Row(doc1=i, doc2=i + 1) for i in range(200)]
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=10)
    out = connected_components_star(chain, max_iter=10).collect()
    assert {r["comp"] for r in out} == {0}
    assert {r["node"] for r in out} == set(range(201))


def test_span_dedup_hash_key_path_identical(spark):
    # the sha256-keyed shuffle variant must produce the identical result
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f"),
            Row(doc_id=2, text="x y a b c d"),
            Row(doc_id=3, text="a b"),
        ]
    )
    plain = sorted(map(tuple, span_dedup(docs, span_tokens=2).collect()))
    hashed = sorted(
        map(tuple, span_dedup(docs, span_tokens=2, hash_key=True).collect())
    )
    assert plain == hashed


def test_kmeans_lloyd_recovers_separated_blobs(spark):
    """Three well-separated synthetic blobs: after 2 rounds every vector
    is assigned with its blob-mates, cluster sizes match blob sizes, and
    the reported assignment is the true argmin of the final centroids."""
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.operators.similarity import kmeans_lloyd

    blobs = {0: (0.0, 7), 1: (10.0, 5), 2: (-10.0, 6)}  # center, size
    rows = []
    vid = 0
    for _b, (center, size) in blobs.items():
        for j in range(size):
            rows.append((vid, [center + 0.01 * j] * 4))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_lloyd(df, k=3, rounds=2)
    got = assigned.select("id", "cid").collect()
    by_cid: dict = {}
    for r in got:
        by_cid.setdefault(r["cid"], set()).add(r["id"])
    # every blob lands wholly in one cluster
    blob_sets = [set(range(0, 7)), set(range(7, 12)), set(range(12, 18))]
    assert sorted(map(frozenset, by_cid.values())) == sorted(
        map(frozenset, blob_sets)
    )
    # centroids: one per surviving cluster, d=4
    assert len(cents) == 3 and all(len(v) == 4 for _c, v in cents)
    # inertia is non-negative and finite
    inert = assigned.agg(F.sum("d2")).collect()[0][0]
    assert inert is not None and inert >= 0


def test_kcore_peel_fixpoint_and_fixed_rounds(spark):
    """K4 clique + pendant chain 4-5-6-7: the exact 2-core (fixpoint
    mode) is the clique alone — the chain peels one node per round
    (needs 3 cascading rounds) — while rounds=1 still contains chain
    remnants BELOW k, demonstrating fixed-rounds =/= fixpoint."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(clique + chain, "doc1 long, doc2 long")

    core = {r["node"]: r["degree"] for r in dedup.kcore_peel(df, k=2).collect()}
    assert core == {1: 3, 2: 3, 3: 3, 4: 3}  # exactly the clique
    # the fixpoint needs 3 peels plus 1 confirming round
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.kcore_peel(df, k=2, max_iter=2)

    one = {r["node"]: r["degree"] for r in dedup.kcore_peel(df, k=2, rounds=1).collect()}
    assert set(one) == {1, 2, 3, 4, 5, 6}  # only 7 peeled so far
    assert one[6] == 1  # below k: one round has not converged

    # q_graph_kcore's path: a canonical, checkpointed edge set with its
    # round-1 degrees handed in from dedup._edge_degrees must peel exactly
    # like the normalizing call on a raw copy of the same graph (reversed
    # duplicates and a self-loop). k=3 on K4 + node 5 (linked to 1, 2, 6)
    # + tail 6-7-8: round 1 drops the tail, round 2 drops 5.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (1, 5), (2, 5), (5, 6), (6, 7), (7, 8)]
    raw = spark.createDataFrame(
        edges + [(v, u) for u, v in edges] + [(5, 5)], "doc1 long, doc2 long"
    )
    canon = spark.createDataFrame(edges, "u long, v long").localCheckpoint()
    peeled = {}
    for rounds in (1, 2, 3):
        want = dedup.kcore_peel(raw, k=3, rounds=rounds).collect()
        got = dedup.kcore_peel(
            canon, k=3, rounds=rounds, src="u", dst="v",
            canonical=True, degrees0=dedup._edge_degrees(canon),
        ).collect()
        peeled[rounds] = dict(map(tuple, want))
        assert dict(map(tuple, got)) == peeled[rounds], rounds
    assert peeled[1] == {1: 4, 2: 4, 3: 3, 4: 3, 5: 2}
    assert peeled[2] == peeled[3] == {1: 3, 2: 3, 3: 3, 4: 3}


def test_ivf_batch_with_full_probing_is_exact(spark, sf_dir):
    """ivf_topk_batch probing EVERY cell must reproduce brute-force
    exactly — the approximation comes only from pruned cells, so
    n_probe == n_cells closes the gap by construction (recall == 100%
    at any corpus). Also pins the (rounded sim, id) rank order the two
    sides share in q_eval_ann_recall's overlap join."""
    from mongo_to_parquet_spark.operators.similarity import (
        brute_force_topk_batch,
        ivf_topk_batch,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = [0, 1, 2, 3]
    key = lambda r: (r["probe_id"], r["rk"])  # noqa: E731
    exact = {key(r): r["vec_id"] for r in
             brute_force_topk_batch(emb, probes, k=5).collect()}
    full = {key(r): r["vec_id"] for r in
            ivf_topk_batch(emb, probes, k=5, n_cells=8, n_probe=8).collect()}
    assert full == exact and len(exact) == 20


def test_cusum_window_telescoping_matches_recursion(spark):
    """The window form S_i = cum_i - min(0, running_min(cum)) must equal
    the textbook recursion S_i = max(0, S_{i-1} + dev_i) on an arbitrary
    deviation series — the identity q_ts_changepoint stands on."""
    import random

    rng = random.Random(7)
    devs = [rng.randint(-9, 9) for _ in range(200)]
    # recursive reference
    want, s = [], 0
    for d in devs:
        s = max(0, s + d)
        want.append(s)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(devs)], "i long, dev long"
    )
    w = (
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = [
        r["s"]
        for r in df.withColumn("cum", F.sum("dev").over(w))
        .withColumn(
            "s", F.col("cum") - F.least(F.lit(0).cast("long"), F.min("cum").over(w))
        )
        .orderBy("i")
        .collect()
    ]
    assert got == want


def test_profile_kmv_keeps_all_null_column(spark):
    """The LEFT join + coalesce in profile_columns_kmv is LOAD-BEARING:
    an all-NULL column contributes zero hash pairs, so its group never
    forms in the sketch relation — an inner join would silently drop
    exactly the column a data-quality profile exists to flag. Pin the
    row's survival and its n_distinct = 0."""
    from pyspark.sql import Row

    from mongo_to_parquet_spark.operators.validate import profile_columns_kmv

    df = spark.createDataFrame(
        [Row(a=i, dead=None) for i in range(10)], "a: bigint, dead: string"
    )
    rep = {
        r["col_name"]: r
        for r in profile_columns_kmv(df, {"a": None, "dead": None}).collect()
    }
    assert set(rep) == {"a", "dead"}
    assert rep["dead"]["n_nulls"] == 10
    assert rep["dead"]["n_distinct"] == 0
    assert rep["dead"]["min_repr"] is None and rep["dead"]["max_repr"] is None
    assert rep["a"]["n_distinct"] == 10  # m < k ⇒ exact


def test_exact_kth_smallest_matches_sort(spark):
    """Histogram-refinement rank selection must equal the sorted answer
    for arbitrary ranks, duplicate-heavy data, negatives, tight ranges
    (all-equal → width-1 immediately) and tiny bucket counts (forces
    many refinement rounds) — one rank per call and all ranks in one
    call."""
    import random

    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    rng = random.Random(11)
    cases = [
        [rng.randint(-50_000, 50_000) for _ in range(500)],
        [7] * 40,                       # degenerate single value
        [rng.choice([1, 2, 3]) for _ in range(100)],  # heavy duplicates
        list(range(1, 11)),
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "c long")
        ordered = sorted(vals)
        ks = sorted({1, len(vals) // 2 + 1, len(vals)})
        for k in ks:
            assert exact_ranks_smallest(df, "c", [k], buckets=8)[k] == ordered[k - 1]
        want = {k: ordered[k - 1] for k in ks}
        assert exact_ranks_smallest(df, "c", ks, buckets=8) == want
    # out-of-range ranks refuse loudly
    df = spark.createDataFrame([(1,)], "c long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_ranks_smallest(df, "c", [2])


def test_exact_kth_smallest_excludes_nulls(spark):
    """NULL values can never land in a bucket census (between() drops
    them), so they must not be counted in n either: rank-k is over the
    NON-NULL multiset, and a rank past it fails the up-front range check
    instead of dying mid-refinement (round-7 advice). Same contract for
    one rank per call, all ranks in one call and weighted probes."""
    import pytest as _pytest

    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    vals = [10, None, 3, None, 7, 5, None]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    nn = sorted(v for v in vals if v is not None)  # [3, 5, 7, 10]
    for k, want in enumerate(nn, start=1):
        assert exact_ranks_smallest(df, "c", [k], buckets=4)[k] == want
    assert exact_ranks_smallest(df, "c", [1, 2, 3, 4], buckets=4) == {
        1: 3, 2: 5, 3: 7, 4: 10,
    }
    # rank 5 exists only if NULLs were (wrongly) counted
    with _pytest.raises(ValueError):
        exact_ranks_smallest(df, "c", [len(nn) + 1], buckets=4)
    with _pytest.raises(ValueError):
        exact_ranks_smallest(df, "c", [1, 5], buckets=4)
    # weighted: NULL-value rows contribute nothing even with a weight
    wdf = spark.createDataFrame(
        [(3, 2), (None, 100), (7, 1)], "v long, w long"
    )
    assert exact_ranks_smallest(wdf, "v", [3], buckets=4, weight_col="w")[3] == 7
    assert exact_ranks_smallest(
        wdf, "v", [1, 2, 3], buckets=4, weight_col="w"
    ) == {1: 3, 2: 3, 3: 7}
    with _pytest.raises(ValueError):
        exact_ranks_smallest(wdf, "v", [4], buckets=4, weight_col="w")
    # all-NULL column: loud range failure, not a census assertion
    ndf = spark.createDataFrame([(None,), (None,)], "c long")
    with _pytest.raises(ValueError):
        exact_ranks_smallest(ndf, "c", [1], buckets=4)


def test_exact_kth_smallest_beyond_double_precision(spark):
    """Bucket indices must be computed in int64: values near bucket
    boundaries in a > 2^53 range silently mis-bucket through double
    division (v/width rounds across the boundary), corrupting the census
    against the driver's exact integer range arithmetic."""
    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    base = 1 << 60
    vals = [0, base - 1, base, base + 1, (1 << 62) + 3, (1 << 62) + 4]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    want = dict(enumerate(sorted(vals), start=1))
    for k in want:
        assert exact_ranks_smallest(df, "c", [k], buckets=4)[k] == want[k]
    assert exact_ranks_smallest(df, "c", list(want), buckets=4) == want


# -------------------------------------------------- incremental minhash ----
def test_minhash_index_roundtrip_and_incremental_pairs(spark, tmp_path):
    """The banded index survives a parquet round-trip byte-identically,
    and incremental probing through the persisted copy returns the same
    pairs as the in-plan index — the append-only daily-crawl contract."""
    docs = spark.createDataFrame(
        [
            # base corpus: two unrelated docs + one that today near-dups
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="completely different content about spark shuffles"),
            Row(doc_id=3, text="alpha beta gamma delta epsilon zeta eta theta iota"),
            # delta (doc_id % 4 == 0): near-dup of 1, dup of itself, noise
            Row(doc_id=4, text="the quick brown fox jumps over the lazy dog tonight"),
            Row(doc_id=8, text="the quick brown fox jumps over the lazy dog tonight"),
            Row(doc_id=12, text="unrelated fresh crawl text with novel words only"),
        ]
    )
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)

    idx = dedup.minhash_index(base)
    path = str(tmp_path / "mh_index")
    idx.write.partitionBy("band").parquet(path)
    reloaded = spark.read.parquet(path).select(
        # partition-dir values come back as strings under the session's
        # type-inference settings; the probe join only needs equal values
        "doc",
        F.col("band").cast("bigint").alias("band"),
        "sigstr",
    )
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, reloaded.collect()))

    inplan = dedup.minhash_incremental_pairs(delta, idx, docs, threshold=0.8)
    persisted = dedup.minhash_incremental_pairs(delta, reloaded, docs, threshold=0.8)
    got = sorted(map(tuple, inplan.collect()))
    assert got == sorted(map(tuple, persisted.collect()))
    # near-identical docs pair up (4,8 exact dup; 1,4 and 1,8 one-token-off);
    # every pair involves a delta doc; noise pairs with nothing
    pairs = {(a, b) for a, b, _ in got}
    assert (4, 8) in pairs
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in pairs)
    assert not any(12 in p for p in pairs)


def test_ivf_append_equals_rebuild_with_same_centroids(spark, sf_dir, tmp_path):
    """build(base) + ivf_append(delta) must probe identically to one
    layout whose vectors were ALL assigned through the base-derived
    centroid table — the persisted-centroid contract behind
    q_sim_topk_ivf_incremental — and partition pruning must survive the
    append (new rows land in existing cell= partitions)."""
    from mongo_to_parquet_spark.operators.similarity import (
        build_ivf_layout,
        ivf_append,
        ivf_topk_from_layout,
    )
    from mongo_to_parquet_spark.plans.checks import formatted_plan
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)

    inc = str(tmp_path / "inc")
    build_ivf_layout(base, inc, n_cells=8)
    ivf_append(delta, inc)

    # reference: one layout, all vectors, SAME (base-derived) centroids —
    # build from base then append the delta in one more append is the only
    # public path, so construct the monolith by appending base again to an
    # empty-vector copy of the centroid table: instead, simply append the
    # delta to a second base build and compare probes from BOTH layouts
    # against each other after shuffling append order.
    ref = str(tmp_path / "ref")
    build_ivf_layout(base, ref, n_cells=8)
    ivf_append(delta.orderBy(F.col("vec_id").desc()), ref)  # order-insensitive

    pv = emb.filter("vec_id = 0").collect()[0]["embedding"]
    got = ivf_topk_from_layout(spark, inc, pv, k=10, n_probe=3, exclude_id=0)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan
    a = [(r["vec_id"], r["sim"]) for r in got.collect()]
    b = [
        (r["vec_id"], r["sim"])
        for r in ivf_topk_from_layout(
            spark, ref, pv, k=10, n_probe=3, exclude_id=0
        ).collect()
    ]
    assert a == b
    # delta vectors are actually visible to the probe: at least one of the
    # true top-10 (delta ids included by construction of the fixture's
    # clustered embeddings) — weaker but deterministic: the probed scan
    # contains delta rows
    probed_ids = {r["vec_id"] for r in got.collect()}
    assert any(i % 4 == 0 for i in probed_ids) or len(probed_ids) == 10


# ------------------------------------------------ operators/ranks.py -------


def test_doubled_midranks_exact_and_partition_invariant(spark):
    # the two-level bucketed rank must equal naive midranks exactly, for
    # heavy ties and across partitioning/bucket sizes (the invariant that
    # lets q_stats_spearman / q_eval_pr_curve avoid a corpus sort)
    import random

    from mongo_to_parquet_spark.operators.ranks import doubled_midranks

    rng = random.Random(7)
    vals = [rng.randrange(0, 50_000) for _ in range(2000)] + [123] * 50
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    naive = {}
    svals = sorted(vals)
    i = 0
    while i < len(svals):
        j = i
        while j + 1 < len(svals) and svals[j + 1] == svals[i]:
            j += 1
        naive[svals[i]] = (i + 1) + (j + 1)  # 2*avg of ranks i+1..j+1
        i = j + 1
    for parts, bdiv in ((1, 16384), (7, 16384), (7, 1024), (7, 10**9)):
        got = {
            r["v"]: r["rv2"]
            for r in doubled_midranks(df.repartition(parts), "v", bdiv).collect()
        }
        assert got == naive, (parts, bdiv)


def test_mmr_matches_naive_greedy(spark, sf_dir):
    """q_rag_mmr's distributed-candidates + driver-greedy pipeline must
    equal a from-scratch numpy recomputation of MMR over raw embeddings
    (λ=0.7, 12 candidates, 5 picks, 4dp-rounded sims, id tiebreaks)."""
    from decimal import Decimal

    import numpy as np

    from mongo_to_parquet_spark.queries.retrieval import QUERIES as RQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos4(a, b):
        # mirror functions/vector.cosine: sequential fold == np dot here
        return Decimal(str(round(float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 4)))

    probe = emb[0]
    rel = {v: cos4(e, probe) for v, e in emb.items() if v != 0}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:12]
    lam, lam1 = Decimal("0.7"), Decimal("0.3")
    chosen = [max(cand, key=lambda v: (rel[v], -v))]
    expect = [(1, chosen[0], float(rel[chosen[0]]))]
    while len(chosen) < 5:
        best = None
        for c in cand:
            if c in chosen:
                continue
            mx = max(cos4(emb[c], emb[s]) for s in chosen)
            score = lam * rel[c] - lam1 * mx
            if best is None or (score, -c) > (best[1], -best[0]):
                best = (c, score)
        expect.append((len(chosen) + 1, best[0], float(best[1])))
        chosen.append(best[0])
    got = [
        (r["rk"], r["vec_id"], r["mmr_score"])
        for r in RQ["q_rag_mmr"](spark, sf_dir).orderBy("rk").collect()
    ]
    assert got == expect
    # structural MMR facts: distinct picks, rank-1 is the global argmax
    assert len({v for _, v, _ in got}) == 5
    assert got[0][1] == min(
        [v for v in rel if rel[v] == max(rel.values())]
    )


def test_link_fs_matches_naive_scoring(spark, sf_dir):
    """q_link_fs == a pure-python Fellegi-Sunter recomputation: same
    blocked pairs, same data-estimated u-probabilities, same log weights,
    same rounded scores and top-20 cut."""
    import math
    from collections import Counter

    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "customer").collect()
    feats = [
        (r["c_custkey"], r["c_nationkey"], r["c_mktsegment"],
         math.floor(r["c_acctbal"] / 1000))
        for r in rows
    ]
    n = len(feats)
    den = n * (n - 1) // 2
    u1n = sum(c * (c - 1) // 2 for c in Counter(f[2] for f in feats).values())
    u2n = sum(c * (c - 1) // 2 for c in Counter(f[3] for f in feats).values())
    wa1, wd1 = math.log(0.95 * den / u1n), math.log(0.05 * den / (den - u1n))
    wa2, wd2 = math.log(0.95 * den / u2n), math.log(0.05 * den / (den - u2n))
    scored = []
    by_blk: dict[int, list] = {}
    for f in feats:
        by_blk.setdefault(f[1], []).append(f)
    for blk in by_blk.values():
        blk.sort()
        for i in range(len(blk)):
            for j in range(i + 1, len(blk)):
                a, b = blk[i], blk[j]
                s = (wa1 if a[2] == b[2] else wd1) + (wa2 if a[3] == b[3] else wd2)
                scored.append(
                    (a[0], b[0], int(a[2] == b[2]), int(a[3] == b[3]), round(s, 4))
                )
    scored.sort(key=lambda t: (-t[4], t[0], t[1]))
    got = [
        (r["id1"], r["id2"], r["agree_seg"], r["agree_bal"], r["fs_score"])
        for r in CQ["q_link_fs"](spark, sf_dir).collect()
    ]
    assert sorted(got, key=lambda t: (-t[4], t[0], t[1])) == scored[:20]


def test_dsir_weights_match_hashlib_recompute(spark, sf_dir):
    """q_select_dsir == a hashlib/python recomputation of the hashed-
    bigram importance weights (Laplace-smoothed target/raw log-ratios),
    including the md5 feature-hash contract and the DECIMAL accumulation
    order-insensitivity (python sums exact Fractions, Spark sums
    DECIMAL(38,18) — both round to the same 4dp)."""
    import hashlib
    import math
    from collections import Counter

    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ, _DSIR_B
    from mongo_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()

    def feat(bg: str) -> int:
        return int(hashlib.md5(f"dsir:{bg}".encode()).hexdigest()[:8], 16) % _DSIR_B

    doc_feat: dict[int, Counter] = {}
    lang = {}
    for r in docs:
        toks = r["text"].split(" ")
        bgs = (
            [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
            if len(toks) >= 2
            else [r["text"]]
        )
        doc_feat[r["doc_id"]] = Counter(feat(b) for b in bgs)
        lang[r["doc_id"]] = r["lang"]
    ct: Counter = Counter()
    cr: Counter = Counter()
    for d, fc in doc_feat.items():
        cr.update(fc)
        if lang[d] == "en":
            ct.update(fc)
    tt, tr = sum(ct.values()), sum(cr.values())
    w = {
        f: math.log((ct.get(f, 0) + 1) / (tt + _DSIR_B))
        - math.log((cr[f] + 1) / (tr + _DSIR_B))
        for f in cr
    }
    weights = {
        d: round(sum(nf * w[f] for f, nf in fc.items()), 4)
        for d, fc in doc_feat.items()
    }
    expect = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r["doc_id"], r["dsir_weight"])
        for r in CQ["q_select_dsir"](spark, sf_dir).collect()
    ]
    spark.catalog.clearCache()  # q_select_dsir persists doc_feat
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == expect


def test_ivfpq_serve_variant_matches_declared(spark, sf_dir):
    """The bench-only serve path (layout built once, reused) must return
    exactly the declared q_sim_topk_ivfpq's build+serve results — the
    layout is pure materialization, so reuse cannot change the answer."""
    from mongo_to_parquet_spark.queries import bench_only, queries

    declared = queries()["q_sim_topk_ivfpq"](spark, sf_dir).collect()
    serve = bench_only()["q_sim_topk_ivfpq_serve"](spark, sf_dir).collect()
    key = lambda r: (r["pq_dist"], r["vec_id"])  # noqa: E731
    assert sorted(map(tuple, declared)) == sorted(map(tuple, serve))
    assert len(declared) == 10 and sorted(declared, key=key) == sorted(
        serve, key=key
    )


def test_select_cover_matches_naive_greedy(spark, sf_dir):
    """q_select_cover == a pure-python greedy max-coverage over bigram
    sets, including tie (doc_id) and early-stop (zero-gain) semantics."""
    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ, _COVER_K
    from mongo_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    units = {}
    for r in docs:
        toks = r["text"].split(" ")
        units[r["doc_id"]] = (
            {f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)}
            if len(toks) >= 2
            else {r["text"]}
        )
    covered: set = set()
    expect = []
    for t in range(1, _COVER_K + 1):
        gains = {
            d: len(u - covered)
            for d, u in units.items()
            if d not in {e[1] for e in expect}
        }
        doc = min(gains, key=lambda d: (-gains[d], d))
        if gains[doc] == 0:
            break
        expect.append((t, doc, gains[doc]))
        covered |= units[doc]
    got = [
        (r["rk"], r["doc_id"], r["gain"])
        for r in CQ["q_select_cover"](spark, sf_dir).orderBy("rk").collect()
    ]
    spark.catalog.clearCache()
    # marginal gains are non-increasing (submodularity of coverage)
    assert all(got[i][2] >= got[i + 1][2] for i in range(len(got) - 1))
    assert got == expect


def test_keep_best_picks_longest_member_per_cluster(spark, sf_dir):
    """q_dedup_keep_best: every reported representative must belong to its
    cluster, be its (n_chars desc, doc_id asc) maximum, and n_members must
    equal the cluster's size in q_dedup_clusters' assignment."""
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    clusters = {}
    for r in LQ["q_dedup_clusters"](spark, sf_dir).collect():
        clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars"
        ).collect()
    }
    got = LQ["q_dedup_keep_best"](spark, sf_dir).collect()
    reported = {r["cluster_id"] for r in got}
    multi = {c for c, m in clusters.items() if len(m) > 1}
    assert reported == multi
    for r in got:
        members = clusters[r["cluster_id"]]
        assert r["n_members"] == len(members)
        best = min(members, key=lambda d: (-chars[d], d))
        assert r["keep_doc_id"] == best
        assert r["kept_n_chars"] == chars[best]


def test_curriculum_buckets_partition_corpus_by_difficulty(spark, sf_dir):
    """q_pack_curriculum: the four buckets partition the corpus (doc and
    token totals match the per-doc scoring), bucket mean difficulty is
    strictly ordered, and each cut leaves ≤ the exact quartile rank of
    docs at-or-below it (value-based cuts, ties collapse downward)."""
    from mongo_to_parquet_spark.operators.text import unigram_logprob
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    scored = unigram_logprob(load_table(spark, sf_dir, "documents")).collect()
    got = sorted(
        LQ["q_pack_curriculum"](spark, sf_dir).collect(), key=lambda r: r["bucket"]
    )
    spark.catalog.clearCache()
    assert sum(r["n_docs"] for r in got) == len(scored)
    assert sum(r["total_tokens"] for r in got) == sum(r["n_tokens"] for r in scored)
    means = [r["avg_nll"] for r in got]
    assert means == sorted(means)
    # value-cut property: bucket 1 holds every doc with nll <= its max,
    # i.e. at least ceil(n/4) docs (ties can only grow it)
    n = len(scored)
    assert got[0]["n_docs"] >= (n + 3) // 4 - 1


def test_overlap_sources_estimates_track_exact_intersections(spark, sf_dir):
    """q_overlap_sources: for every source pair, the KMV union and
    intersection estimates must sit within the sketch's sampling error of
    the EXACT distinct-text set sizes (3σ with σ ≈ est/√(k−2), plus the
    ρ-quantization floor of union/k for the intersection)."""
    from mongo_to_parquet_spark.functions.sketch import DEFAULT_K
    from mongo_to_parquet_spark.queries.llm import QUERIES as LQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    texts: dict[str, set] = {}
    for r in rows:
        texts.setdefault(r["source"], set()).add(r["text"])
    got = LQ["q_overlap_sources"](spark, sf_dir).collect()
    assert len(got) == len(texts) * (len(texts) - 1) // 2
    k = DEFAULT_K
    for r in got:
        a, b = texts[r["s1"]], texts[r["s2"]]
        exact_u, exact_i = len(a | b), len(a & b)
        tol_u = max(3 * exact_u / (k - 2) ** 0.5, 2)
        assert abs(r["union_est"] - exact_u) <= tol_u, (r, exact_u)
        tol_i = max(3 * exact_u / (k - 2) ** 0.5, exact_u / k + 2)
        assert abs(r["inter_est"] - exact_i) <= tol_i, (r, exact_i)


def test_snm_linkage_agrees_with_allpairs_route(spark, sf_dir):
    """q_link_fs_snm scores with the SAME weights as q_link_fs, so any
    pair appearing in both top-20s must carry identical agreement flags
    and fs_score; and SNM candidates are structurally bounded — every
    emitted pair shares a block by construction (same nation)."""
    from mongo_to_parquet_spark.queries.curation import QUERIES as CQ
    from mongo_to_parquet_spark.sources.catalog import load_table

    full = {
        (r["id1"], r["id2"]): (r["agree_seg"], r["agree_bal"], r["fs_score"])
        for r in CQ["q_link_fs"](spark, sf_dir).collect()
    }
    snm = {
        (r["id1"], r["id2"]): (r["agree_seg"], r["agree_bal"], r["fs_score"])
        for r in CQ["q_link_fs_snm"](spark, sf_dir).collect()
    }
    shared = set(full) & set(snm)
    for k in shared:
        assert full[k] == snm[k], (k, full[k], snm[k])
    nation = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    for a, b in snm:
        assert nation[a] == nation[b]


def test_ndcg_matches_naive_python(spark, sf_dir):
    """q_eval_ndcg vs a from-scratch python recompute: exact cosine
    ranking per probe, binary label relevance, the SAME ×10⁶ discount
    literals, integer floor-div basis points — bit-for-bit equal, plus
    the metric's invariants (dcg ≤ idcg, 0 ≤ ndcg_bp ≤ 10000)."""
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.queries.retrieval import (
        _EVAL_PROBES,
        _NDCG_IW,
        _NDCG_W,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"]) for r in rows}
    expected = {}
    for pid in _EVAL_PROBES:
        pv, plabel = vecs[pid]
        pn = math.sqrt(sum(x * x for x in pv))
        scored = sorted(
            (
                (
                    -round(
                        sum(a * b for a, b in zip(v, pv))
                        / (math.sqrt(sum(x * x for x in v)) * pn),
                        4,
                    ),
                    vid,
                )
                for vid, (v, lbl) in vecs.items()
                if vid != pid
            ),
        )[:10]
        rels = [1 if vecs[vid][1] == plabel else 0 for _, vid in scored]
        dcg = sum(r * w for r, w in zip(rels, _NDCG_W))
        n_rel = sum(1 for vid, (v, lbl) in vecs.items() if lbl == plabel and vid != pid)
        idcg = _NDCG_IW[min(n_rel, 10) - 1] if n_rel > 0 else 0
        expected[pid] = (dcg, idcg, dcg * 10000 // idcg if n_rel else 0)
    got = {
        r["probe_id"]: (r["dcg_x1e6"], r["idcg_x1e6"], r["ndcg_bp"])
        for r in queries()["q_eval_ndcg"](spark, sf_dir).collect()
    }
    assert got == expected
    for dcg, idcg, bp in got.values():
        assert 0 <= dcg <= idcg and 0 <= bp <= 10000


def test_exact_kth_smallest_weighted_equals_expanded(spark):
    """weight_col semantics: rank-k over the census must equal rank-k
    over the physically expanded multiset, duplicates and all."""
    import random

    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    rng = random.Random(7)
    census = [(rng.randint(-100, 100), rng.randint(1, 9)) for _ in range(60)]
    cdf = spark.createDataFrame(census, "v long, w long")
    expanded = sorted(v for v, w in census for _ in range(w))
    ks = sorted({1, 17, len(expanded) // 2, len(expanded)})
    for k in ks:
        got = exact_ranks_smallest(cdf, "v", [k], buckets=8, weight_col="w")[k]
        assert got == expanded[k - 1]
    got = exact_ranks_smallest(cdf, "v", ks, buckets=8, weight_col="w")
    assert got == {k: expanded[k - 1] for k in ks}


def test_exact_ranks_smallest_matches_expanded_sort(spark):
    """One multi-rank call must return, rank for rank, the expanded
    multiset's sorted answer: ranks that share a window through every
    round (k and k+1 inside one duplicate run), ranks whose windows
    split in round 1 (the two extremes), a repeated rank, negatives and
    weights."""
    import random

    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    rng = random.Random(23)
    census = [(rng.randint(-500, 500), rng.randint(1, 5)) for _ in range(80)]
    census.append((17, 9))  # a duplicate run of at least 9 ranks
    cdf = spark.createDataFrame(census, "v long, w long")
    expanded = sorted(v for v, w in census for _ in range(w))
    n = len(expanded)
    k17 = expanded.index(17) + 1
    ks = [1, 2, k17, k17 + 1, n // 4, n // 2, n // 2, 3 * n // 4, n]
    multi = exact_ranks_smallest(cdf, "v", ks, buckets=8, weight_col="w")
    assert multi == {k: expanded[k - 1] for k in ks}
    assert multi[k17] == multi[k17 + 1] == 17


def test_mrr_matches_naive_python(spark, sf_dir):
    """q_eval_mrr vs a from-scratch python recompute: exact cosine top-10
    per probe, first relevant rank, 2520-scaled reciprocal-rank sum —
    exact integers, plus the invariant mrr_x2520 <= 2520 * n_hit."""
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.queries.retrieval import _EVAL_PROBES
    from mongo_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"]) for r in rows}
    n_hit = mrr = 0
    for pid in _EVAL_PROBES:
        pv, plabel = vecs[pid]
        pn = math.sqrt(sum(x * x for x in pv))
        scored = sorted(
            (
                (
                    -round(
                        sum(a * b for a, b in zip(v, pv))
                        / (math.sqrt(sum(x * x for x in v)) * pn),
                        4,
                    ),
                    vid,
                )
                for vid, (v, lbl) in vecs.items()
                if vid != pid
            ),
        )[:10]
        first = next(
            (i + 1 for i, (_, vid) in enumerate(scored) if vecs[vid][1] == plabel),
            0,
        )
        if first:
            n_hit += 1
            mrr += 2520 // first
    [r] = queries()["q_eval_mrr"](spark, sf_dir).collect()
    assert (r["n_probes"], r["n_hit"], r["mrr_x2520"]) == (len(_EVAL_PROBES), n_hit, mrr)
    assert r["mrr_x2520"] <= 2520 * r["n_hit"]


def test_phrase_search_matches_naive_python(spark, sf_dir):
    """q_phrase_search vs a python scan for adjacent ('spark','join')
    token pairs: per-doc hit count and 1-based first position."""
    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        toks = r["text"].split(" ")
        hits = [
            i + 1
            for i, (x, y) in enumerate(zip(toks, toks[1:]))
            if x == "spark" and y == "join"
        ]
        if hits:
            expected[r["doc_id"]] = (len(hits), hits[0])
    got = {
        r["doc_id"]: (r["n_hits"], r["first_pos"])
        for r in queries()["q_phrase_search"](spark, sf_dir).collect()
    }
    assert got == expected and expected


def test_shuffle_epoch_is_md5_permutation(spark, sf_dir):
    """q_shuffle_epoch vs a python md5 sort: the two-level bucketed rank
    must equal the plain global sort, each epoch must be a bijection on
    doc_ids, and the two epochs must order the corpus differently."""
    import hashlib

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    expected = {}
    for ep in (0, 1):
        keyed = sorted(
            (hashlib.md5(f"ep{ep}:{i}".encode()).hexdigest(), i) for i in ids
        )
        for rk, (skey, i) in enumerate(keyed, start=1):
            expected[(ep, i)] = (skey, rk)
    got = {
        (r["epoch"], r["doc_id"]): (r["skey"], r["rank"])
        for r in queries()["q_shuffle_epoch"](spark, sf_dir).collect()
    }
    assert got == expected
    order0 = [i for (ep, i), (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1]) if ep == 0]
    order1 = [i for (ep, i), (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1]) if ep == 1]
    assert sorted(order0) == sorted(order1) == sorted(ids)  # bijections
    assert order0 != order1  # epochs genuinely reshuffle


def test_mine_bitext_matches_naive_python(spark, sf_dir):
    """q_mine_bitext vs a from-scratch python miner: en->fr best match
    by rounded-integer cosine, ratio margin over both directions' k=4
    neighborhoods, keep margin > 1.0. Also pins that every kept pair's
    sim clears its own neighborhood averages."""
    import math

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    d = {r["doc_id"]: r["lang"] for r in load_table(spark, sf_dir, "documents").collect()}
    e = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    A = sorted(i for i, l in d.items() if l == "en" and i in e)
    B = sorted(i for i, l in d.items() if l == "fr" and i in e)

    def cos(u, v):
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return sum(x * y for x, y in zip(u, v)) / (nu * nv)

    s = {}
    for ai in A:
        for bi in B:
            si = round(cos(e[ai], e[bi]) * 10000)
            if si > 0:
                s[(ai, bi)] = si
    ka, kb = {}, {}
    for ai in A:
        row = sorted(((s[(ai, bi)], -bi) for bi in B if (ai, bi) in s), reverse=True)[:4]
        if row:
            ka[ai] = (sum(v for v, _ in row), len(row))
    for bi in B:
        col = sorted(((s[(ai, bi)], -ai) for ai in A if (ai, bi) in s), reverse=True)[:4]
        if col:
            kb[bi] = (sum(v for v, _ in col), len(col))
    expected = {}
    for ai in A:
        cands = sorted(((s[(ai, bi)], -bi) for bi in B if (ai, bi) in s), reverse=True)
        if not cands:
            continue
        si, nbi = cands[0]
        bi = -nbi
        sum_a, n_a = ka[ai]
        sum_b, n_b = kb[bi]
        m = (2 * n_a * n_b * si * 10000) // max(sum_a * n_b + sum_b * n_a, 1)
        if m > 10000:
            expected[(ai, bi)] = (si, m)
    got = {
        (r["a_id"], r["b_id"]): (r["sim_x10000"], r["margin_x10000"])
        for r in queries()["q_mine_bitext"](spark, sf_dir).collect()
    }
    spark.catalog.clearCache()  # the query persists its sims relation
    assert got == expected and expected
    for (ai, bi), (si, m) in got.items():
        sum_a, n_a = ka[ai]
        sum_b, n_b = kb[bi]
        assert 2 * si >= sum_a // n_a + sum_b // n_b  # clears the background


def test_partition_apply_balances_and_tiles(spark, sf_dir):
    """q_partition_apply vs a python replay of bucket = |{boundaries <=
    key}| over exact type-1 boundaries, plus the layout invariants:
    buckets are contiguous 0..N-1, their [lo, hi] ranges tile the key
    domain disjointly in order, row counts sum to the corpus, and every
    bucket is within one max-key-multiplicity of the equi-depth target."""
    from collections import Counter

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    keys = [
        r["l_orderkey"]
        for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    ]
    n, counts = len(keys), Counter(keys)
    vs = sorted(counts)
    # type-1 boundaries: smallest key whose cumulative count reaches target
    cum, bcum = 0, []
    for v in vs:
        cum += counts[v]
        bcum.append((v, cum))
    bounds = []
    for i in range(1, 16):
        t = (i * n + 15) // 16
        bounds.append(next(v for v, c in bcum if c >= t))
    expected = {}
    for v in vs:
        b = sum(1 for x in bounds if x <= v)
        if b not in expected:
            expected[b] = [0, v, v]
        expected[b][0] += counts[v]
        expected[b][2] = v
    got = {
        r["bucket"]: (r["n_rows"], r["lo"], r["hi"])
        for r in queries()["q_partition_apply"](spark, sf_dir).collect()
    }
    spark.catalog.clearCache()  # q_partition_bounds persists its census
    assert got == {b: tuple(v) for b, v in expected.items()}
    assert set(got) == set(range(16))
    ordered = [got[b] for b in range(16)]
    assert sum(r for r, _, _ in ordered) == n
    for (_, _, hi), (_, lo, _) in zip(ordered, ordered[1:]):
        assert hi < lo  # disjoint, ordered ranges
    target, slack = n // 16, max(counts.values())
    for r, _, _ in ordered:
        assert abs(r - target) <= slack + 1


def test_mine_bitext_ivf_recall_and_sim_identity(spark, sf_dir):
    """The IVF-candidate miner vs the exact miner: on any pair BOTH
    emit, the integer sims and margins' sim component must be identical
    (same arithmetic, different candidate sets), and pair recall must
    clear 40% even on this worst-case fixture — the embeddings are
    near-orthogonal random vectors, so cells carry almost no semantic
    signal; real clustered embeddings sit far higher. n_probe=4 of 16
    cells matches the q_sim_topk_ivf serving knob."""
    from mongo_to_parquet_spark.queries import queries

    QSL = queries()
    ex = {
        (r["a_id"], r["b_id"]): r["sim_x10000"]
        for r in QSL["q_mine_bitext"](spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    iv = {
        (r["a_id"], r["b_id"]): r["sim_x10000"]
        for r in QSL["q_mine_bitext_ivf"](spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    common = set(ex) & set(iv)
    assert ex and iv
    assert all(ex[k] == iv[k] for k in common)
    assert len(common) / len(ex) >= 0.4


def test_lsh_tuning_matches_naive_python(spark, sf_dir):
    """q_lsh_tuning vs a from-scratch python replay: exact trigram
    Jaccard per shingle-sharing pair, the same md5 Kirsch-Mitzenmacher
    MinHash family, 4x4 banding, per-bin capture counts. Plus the
    S-curve property the report exists for: near-duplicates are captured
    ~always, background pairs ~never."""
    import hashlib
    from itertools import combinations

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def sset(text):
        t = text.split(" ")
        if len(t) < 3:
            return {text}
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    P, N, R = 4294967311, 16, 4
    sh = {r["doc_id"]: sset(r["text"]) for r in docs}

    def h(prefix, s):
        return int(hashlib.md5(f"{prefix}{s}".encode()).hexdigest()[:12], 16)

    bands = {}
    for d, ss in sh.items():
        hs = [(h("mh1:", s), h("mh2:", s)) for s in ss]
        sig = [min((h1 + i * h2) % P for h1, h2 in hs) for i in range(N)]
        bands[d] = {
            (b, "-".join(str(v) for v in sig[b * R : (b + 1) * R]))
            for b in range(N // R)
        }
    expected = {}
    for d1, d2 in combinations(sorted(sh), 2):
        ni = len(sh[d1] & sh[d2])
        if ni == 0:
            continue
        j_bp = ni * 10000 // (len(sh[d1]) + len(sh[d2]) - ni)
        b = j_bp // 1000
        hit = 1 if bands[d1] & bands[d2] else 0
        n, c = expected.get(b, (0, 0))
        expected[b] = (n + 1, c + hit)
    got = {
        r["sim_bin"]: (r["n_pairs"], r["n_captured"], r["capture_bp"])
        for r in queries()["q_lsh_tuning"](spark, sf_dir).collect()
    }
    assert got == {
        b: (n, c, c * 10000 // n) for b, (n, c) in expected.items()
    }
    lo, hi = min(got), max(got)
    assert hi >= 9 and got[hi][2] >= 9000   # near-dups: captured
    assert lo == 0 and got[lo][2] <= 500    # background: pruned


def test_lsh_tuning_sample_frac(spark, sf_dir):
    """q_lsh_tuning's documented 100 TB mode as an executable parameter
    (round-7 verdict #5): sample_frac=0.5 content-addresses a doc subset
    via md5('lsht:'||doc_id), and BOTH engines — the Spark fn and the
    oracle built by _lsh_tuning_sql(0.5) — select the identical subset,
    so the sampled S-curve is engine-exact, and its exact-pair volume is
    strictly below the full run's (the quadratic shrink the knob buys)."""
    import duckdb

    from mongo_to_parquet_spark.queries import queries
    from mongo_to_parquet_spark.queries.llm import _lsh_tuning_sql

    got = {
        r["sim_bin"]: (r["n_pairs"], r["n_captured"], r["capture_bp"])
        for r in queries()["q_lsh_tuning"](spark, sf_dir, sample_frac=0.5).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        int(b): (int(n), int(c), int(bp))
        for b, n, c, bp in con.execute(_lsh_tuning_sql(0.5)).fetchall()
    }
    assert got == want and got
    full_pairs = sum(
        r["n_pairs"]
        for r in queries()["q_lsh_tuning"](spark, sf_dir).collect()
    )
    assert 0 < sum(n for n, _, _ in got.values()) < full_pairs


def test_langid_ngram_learns_real_language_signal(spark, tmp_path):
    """q_text_langid_ngram accuracy pin. The driver fixture's text is the
    SAME synthetic vocabulary for every lang label (no learnable signal —
    all classifiers sit at chance there), so the discriminative pin runs
    on a synthesized genuinely-multilingual corpus (lesson 21): five
    languages with distinct character statistics. The trained hashed
    n-gram model must (a) match its DuckDB oracle on this corpus too,
    (b) be near-perfect, and (c) beat or match the stopword baseline."""
    import duckdb
    import pandas as pd

    from mongo_to_parquet_spark.queries import oracle_sql, queries

    lex = {
        "de": "der die und das ist ein nicht mit sich auf für werden schön "
              "straße müller zeitung gemütlich wissenschaft".split(),
        "en": "the and of to is in that it was for with quick brown fox "
              "jumps through knowledge morning".split(),
        "es": "el la de que los una por con para como señor niño corazón "
              "mañana ciudad desarrollo trabajo".split(),
        "fr": "le la les et des une dans pour avec être château très "
              "toujours développement connaissance".split(),
        "zh": "的 是 了 在 我 中国 人民 你好 学习 知识 工作 城市 发展 早上 朋友".split(),
    }
    rows = []
    i = 0
    for lang, words in sorted(lex.items()):
        for d in range(40):
            text = " ".join(words[(d + j) % len(words)] for j in range(12))
            i += 1
            rows.append((i, text, lang, "s", len(text)))
    dirp = str(tmp_path / "langs")
    import os

    os.makedirs(dirp)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{dirp}/documents.parquet")

    QS_, OS_ = queries(), oracle_sql()
    conf = QS_["q_text_langid_ngram"](spark, dirp).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{dirp}/documents.parquet'"
    )
    want = sorted(con.execute(OS_["q_text_langid_ngram"]).fetchall())
    assert sorted((r["lang"], r["lang_pred"], r["n_docs"]) for r in conf) == want
    n = sum(r["n_docs"] for r in conf)
    ok = sum(r["n_docs"] for r in conf if r["lang"] == r["lang_pred"])
    assert n == 200 and ok / n >= 0.95, (ok, n)
    base = QS_["q_text_langid"](spark, dirp).collect()
    base_ok = sum(1 for r in base if r["lang"] == r["lang_pred"])
    assert ok / n >= base_ok / len(base)
