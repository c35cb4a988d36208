"""Semantic + plan tests for the round-2 curation family
(queries/curation.py) and the relational/window additions that landed with
it (custdist, intersect-all, running count-distinct)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from mongo_to_parquet_spark.plans import checks
from mongo_to_parquet_spark.queries import queries
from mongo_to_parquet_spark.sources.catalog import load_table

QS = queries()


# ------------------------------------------------------------ semantics ----
def test_scd2_intervals_partition_each_users_timeline(spark, sf_dir):
    rows = QS["q_scd2_history"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    ev = load_table(spark, sf_dir, "events")
    counts = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for u, segs in by_user.items():
        segs.sort(key=lambda r: r["seg_id"])
        assert [s["seg_id"] for s in segs] == list(range(1, len(segs) + 1))
        # half-open intervals chain with no gap/overlap; exactly one open
        for a, b in zip(segs, segs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
            assert a["is_current"] == 0
            assert a["event_type"] != b["event_type"], "adjacent segments must differ"
        assert segs[-1]["valid_to_us"] is None and segs[-1]["is_current"] == 1
        assert sum(s["n_events"] for s in segs) == counts[u]


def test_weighted_sample_matches_python_reimplementation(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()

    def key(doc_id: int, w: int) -> float:
        h = hashlib.md5(f"wsamp{doc_id}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 0.5) / 4294967296.0
        return round(u ** (1.0 / w), 6)

    expect = sorted(
        ((key(r["doc_id"], r["n_chars"]), r["doc_id"]) for r in docs),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = [
        (r["wkey"], r["doc_id"])
        for r in QS["q_sample_weighted"](spark, sf_dir).collect()
    ]
    assert got == expect


def test_kanonymity_no_small_group_released(spark, sf_dir):
    rows = QS["q_kanonymize"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_rows"] for r in rows) == total, "suppression must not lose rows"
    for r in rows:
        if (r["seg"], r["nat"]) != ("*", -1):
            assert r["n_rows"] >= 8, f"released group below k: {r}"
    assert len({(r["seg"], r["nat"]) for r in rows}) == len(rows)


def test_running_distinct_reaches_exact_distinct(spark, sf_dir):
    out = QS["q_win_count_distinct"](spark, sf_dir)
    finals = (
        out.groupBy("user_id")
        .agg(F.max("run_distinct_types").alias("got"))
    )
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.countDistinct("event_type").alias("want"))
    bad = finals.join(exact, "user_id").filter(F.col("got") != F.col("want"))
    assert bad.count() == 0


def test_custdist_accounts_for_every_customer_and_order(spark, sf_dir):
    rows = QS["q_agg_custdist"](spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["custdist"] for r in rows) == n_cust
    assert sum(r["c_count"] * r["custdist"] for r in rows) == n_orders


def test_semantic_dedup_keeps_one_representative_per_redundant_set(spark, sf_dir):
    rows = QS["q_dedup_semantic"](spark, sf_dir).collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    for label, rs in by_label.items():
        hot = [r for r in rs if r["cent_sim"] >= 0.30]
        dropped = [r for r in rs if r["disposition"] == "drop"]
        # all drops are prototypical rows, and exactly one prototype stays
        assert all(r["cent_sim"] >= 0.30 for r in dropped)
        assert len(dropped) == max(len(hot) - 1, 0), f"label {label}"
        assert all(r["disposition"] == "keep" for r in rs if r["cent_sim"] < 0.30)


def test_knn_votes_are_well_formed(spark, sf_dir):
    rows = QS["q_knn_classify"](spark, sf_dir).collect()
    labels = {
        r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("label").distinct().collect()
    }
    assert len(rows) == 20 and len({r["probe_id"] for r in rows}) == 20
    for r in rows:
        assert r["pred_label"] in labels
        assert 1 <= r["votes"] <= 5


def test_embed_quality_flags_clean_fixture(spark, sf_dir):
    rows = QS["q_embed_quality"](spark, sf_dir).collect()
    for r in rows:
        assert r["n_dims_distinct"] == 1, "fixture dims must be consistent"
        assert r["n_zero"] == 0
        assert r["min_norm"] <= r["avg_norm"] <= r["max_norm"]


# ----------------------------------------------------------- plan shape ----
def test_weighted_sample_is_take_ordered_and_prunes_text(spark, sf_dir):
    df = QS["q_sample_weighted"](spark, sf_dir)
    assert checks.has_node(df, "TakeOrderedAndProject")
    # the sample never reads the text column — only (doc_id, n_chars)
    checks.assert_scan_columns_at_most(df, "documents", 2)


def test_knn_broadcasts_probes_no_shuffle_join(spark, sf_dir):
    plan = checks.formatted_plan(QS["q_knn_classify"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    plan = checks.formatted_plan(QS["q_dedup_semantic"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_keywords_rank_uses_window_group_limit(spark, sf_dir):
    assert checks.has_node(QS["q_text_keywords"](spark, sf_dir), "WindowGroupLimit")


def test_scd2_single_shuffle(spark, sf_dir):
    # change-flag window, running sum, per-segment agg and lead() all
    # partition by user_id: one Exchange, reused across every stage
    assert checks.count_nodes(QS["q_scd2_history"](spark, sf_dir), "Exchange") == 1


def test_running_distinct_single_shuffle(spark, sf_dir):
    assert checks.count_nodes(QS["q_win_count_distinct"](spark, sf_dir), "Exchange") == 1


def test_interpolate_two_exchanges_no_join(spark, sf_dir):
    # bounds agg + post-union window: the grid is unioned INTO the user
    # partitioning, never range-joined against it
    df = QS["q_ts_interpolate"](spark, sf_dir)
    assert checks.count_nodes(df, "Exchange") == 2
    assert checks.count_nodes(df, "SortMergeJoin") == 0
    assert checks.count_nodes(df, "BroadcastHashJoin") == 0


def test_rolling_median_single_shuffle(spark, sf_dir):
    assert checks.count_nodes(QS["q_win_median"](spark, sf_dir), "Exchange") == 1


def test_bpe_train_matches_naive_python(spark, sf_dir):
    """q_bpe_train vs a from-scratch python BPE trainer (Sennrich 2016):
    word-frequency census, k iterations of overlapping pair counts →
    (cnt desc, x, y) argmax → canonical left-to-right non-overlapping
    merge. The engine's merge table must match rank for rank."""
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    words = [w for r in docs for w in r["text"].split(" ") if len(w) >= 2]
    census = Counter("·".join(w) for w in words)
    expected = []
    for rank in range(1, 9):
        pc = Counter()
        for sym, wc in census.items():
            s = sym.split("·")
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += wc
        if not pc:
            break
        cnt = max(pc.values())
        x, y = min(p for p, c in pc.items() if c == cnt)
        expected.append((rank, x, y, x + y, cnt))
        new = Counter()
        for sym, wc in census.items():
            s = sym.split("·")
            out = [s[0]]
            for el in s[1:]:
                if out[-1] == x and el == y:
                    out[-1] = x + y
                else:
                    out.append(el)
            new["·".join(out)] += wc
        census = new
    got = [
        (r["rank"], r["x"], r["y"], r["merged"], r["cnt"])
        for r in QS["q_bpe_train"](spark, sf_dir).collect()
    ]
    assert got == expected


def test_bpe_apply_consumes_trained_merges(spark, sf_dir):
    """Close the tokenizer loop: the merge table q_bpe_train produces is
    fed straight into the q_bpe_apply expression builder, and the
    resulting per-doc subword counts match a python replay of the same
    replace-chain convention."""
    from mongo_to_parquet_spark.queries.curation import bpe_apply_cols

    trained = QS["q_bpe_train"](spark, sf_dir).collect()
    merges = [(r["x"], r["y"]) for r in trained]
    d = load_table(spark, sf_dir, "documents")
    n_words, n_subwords = bpe_apply_cols(merges)
    got = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in d.select("doc_id", n_words.alias("n_words"),
                          n_subwords.alias("n_subwords")).collect()
    }

    def apply_word(w):
        s = "·".join(w)
        for x, y in merges:
            s = s.replace(f"{x}·{y}", f"{x}{y}")
        return len([t for t in s.split("·") if t])

    for r in d.select("doc_id", "text").limit(20).collect():
        ws = [w for w in r["text"].split(" ") if w]
        assert got[r["doc_id"]] == (len(ws), sum(apply_word(w) for w in ws))


def test_bpe_curve_matches_naive_python(spark, sf_dir):
    """q_bpe_curve vs a python replay: corpus total subword count after
    0..k canonical merges. Point 0 = character count of multi-char words
    plus the single-char-word constant; each point replays the trained
    merges (already pinned canonical by test_bpe_train_matches_naive_python)
    left-to-right non-overlapping over the word census."""
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    toks = [w for r in docs for w in r["text"].split(" ") if w]
    ones = sum(1 for w in toks if len(w) == 1)
    census = Counter("·".join(w) for w in toks if len(w) >= 2)
    trained = QS["q_bpe_train"](spark, sf_dir).collect()

    def total(c):
        return ones + sum(wc * len(sym.split("·")) for sym, wc in c.items())

    expected = [(0, total(census))]
    for r in trained:
        x, y = r["x"], r["y"]
        new = Counter()
        for sym, wc in census.items():
            s = sym.split("·")
            out = [s[0]]
            for el in s[1:]:
                if out[-1] == x and el == y:
                    out[-1] = x + y
                else:
                    out.append(el)
            new["·".join(out)] += wc
        census = new
        expected.append((r["rank"], total(census)))
    got = [
        (r["n_merges"], r["total_subwords"])
        for r in QS["q_bpe_curve"](spark, sf_dir).collect()
    ]
    assert got == expected
    # compression curve must be strictly decreasing: every accepted merge
    # saves at least one token occurrence
    totals = [t for _, t in got]
    assert all(a > b for a, b in zip(totals, totals[1:]))


def test_decontaminate_doc_matches_naive_python(spark, sf_dir):
    """q_decontaminate vs python set arithmetic: 5-gram shingles, eval =
    doc_id % 97, per-train-doc distinct shared grams + eval docs hit."""
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def grams(text):
        t = text.split(" ")
        if len(t) < 5:
            return {text}
        return {" ".join(t[i : i + 5]) for i in range(len(t) - 4)}

    ev = {d: grams(t) for d, t in docs.items() if d % 97 == 0}
    expected = {}
    for d, t in docs.items():
        if d % 97 == 0:
            continue
        g = grams(t)
        shared = g & set().union(*ev.values())
        if shared:
            hit_docs = sum(1 for eg in ev.values() if g & eg)
            expected[d] = (len(shared), hit_docs)
    got = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_eval_docs"])
        for r in QS["q_decontaminate_doc"](spark, sf_dir).collect()
    }
    assert got == expected and expected  # fixtures must actually contaminate


def test_bpe_pipeline_matches_python_replay(spark, sf_dir):
    """The composed train→apply key vs a python replay: trained merges
    (already pinned canonical by test_bpe_train_matches_naive_python)
    applied with the replace-chain convention, accumulated per lang."""
    from collections import defaultdict

    trained = QS["q_bpe_train"](spark, sf_dir).collect()
    merges = [(r["x"], r["y"]) for r in trained]

    def subwords(w):
        s = "·".join(w)
        for x, y in merges:
            s = s.replace(f"{x}·{y}", f"{x}{y}")
        return len([t for t in s.split("·") if t])

    expected = defaultdict(lambda: [0, 0, 0])
    rows = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    ).collect()
    for r in rows:
        ws = [w for w in r["text"].split(" ") if w]
        e = expected[r["lang"]]
        e[0] += 1
        e[1] += len(ws)
        e[2] += sum(subwords(w) for w in ws)
    got = {
        r["lang"]: [r["n_docs"], r["n_words"], r["n_subwords"]]
        for r in QS["q_bpe_pipeline"](spark, sf_dir).collect()
    }
    assert got == dict(expected)
    for n_docs, n_words, n_subwords in got.values():
        assert n_words <= n_subwords  # each word is >= 1 subword


def test_dedup_url_matches_urllib_canonicalization(spark, sf_dir):
    """The regex canonicalizer chain vs a from-scratch urllib.parse
    canonicalization (lower scheme+host, strip www., http→https, drop
    fragment, drop utm_*/ref params, strip trailing slashes) — group
    for group identical, proving the regex pipeline implements the
    parser-level rules rather than merely matching itself."""
    from collections import defaultdict
    from urllib.parse import parse_qsl, urlsplit

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]

    def synth(i):
        b = i // 7
        return [
            f"HTTPS://WWW.Example.COM/post/{b}/?utm_source=feed&ref=rss",
            f"https://www.example.com/post/{b}",
            f"http://example.com/post/{b}/#frag",
            f"https://example.com/post/{b}?id={i}",
        ][i % 4]

    def canon(u):
        s = urlsplit(u)
        host = s.netloc.lower()
        host = host[4:] if host.startswith("www.") else host
        q = "&".join(
            f"{k}={v}"
            for k, v in parse_qsl(s.query, keep_blank_values=True)
            if not (k.startswith("utm_") or k == "ref")
        )
        return (
            "https://" + host + s.path.rstrip("/") + (f"?{q}" if q else "")
        )

    groups = defaultdict(list)
    for i in ids:
        groups[canon(synth(i))].append(i)
    expected = {
        c: (len(v), min(v)) for c, v in groups.items() if len(v) >= 2
    }
    got = {
        r["canon_url"]: (r["n_docs"], r["keeper_doc_id"])
        for r in QS["q_dedup_url"](spark, sf_dir).collect()
    }
    assert got == expected and expected


def test_dedup_url_adversarial_param_names(spark, sf_dir, tmp_path):
    """Round-7 advice: the tracking-param rule must be anchored to a [?&]
    delimiter, so params whose NAMES merely contain 'ref'/'utm_x' (href,
    xref) survive and distinct values stay distinct. Three-way check on
    adversarial URLs the fixture synth can't produce: the shipped Spark
    chain (canon_url_col — the exact expression q_dedup_url uses), the
    shipped DuckDB oracle chain (u-CTE swapped for the adversarial rows),
    and a urllib.parse replay all agree."""
    from urllib.parse import parse_qsl, urlsplit

    import duckdb
    import pandas as pd

    from mongo_to_parquet_spark.queries import llm

    urls = [
        "https://example.com/a?href=abc&id=2",
        "https://example.com/a?href=xyz&id=2",
        "https://example.com/a?xref=1&id=2",
        "https://example.com/a?utm_a=1&utm_b=2&id=3",
        "https://example.com/a?utm_a=1&utm_b=2&ref=x&id=3",
        "https://example.com/a?ref=rss&href=abc",
        "https://example.com/a?id=3&utm_x=9",
        "https://example.com/a?utm_a=1&utm_b=2",
        "https://example.com/a?ref=only",
        "http://www.example.com/a?utm_x=1",
        "https://example.com/a/",
        "HTTP://WWW.EXAMPLE.COM/A/",
        "https://example.com/a#frag?utm_x=1",
        "https://example.com/a?id=3",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(urls)), "u": urls})

    def canon(u):
        s = urlsplit(u)
        host = s.netloc.lower()
        host = host[4:] if host.startswith("www.") else host
        q = "&".join(
            f"{k}={v}"
            for k, v in parse_qsl(s.query, keep_blank_values=True)
            if not (k.startswith("utm_") or k == "ref")
        )
        return "https://" + host + s.path.rstrip("/") + (f"?{q}" if q else "")

    expected_canon = {i: canon(u) for i, u in enumerate(urls)}
    # the advice's headline hazard: distinct href values must NOT collapse
    assert expected_canon[0] != expected_canon[1]

    sdf = spark.createDataFrame(pdf)
    got_spark = {
        r["doc_id"]: r["c"]
        for r in sdf.select("doc_id", llm.canon_url_col("u").alias("c")).collect()
    }
    assert got_spark == expected_canon

    # grouped dup output: Spark chain == DuckDB oracle chain == urllib
    from collections import defaultdict

    groups = defaultdict(list)
    for i, c in expected_canon.items():
        groups[c].append(i)
    expected_groups = {
        c: (len(v), min(v)) for c, v in groups.items() if len(v) >= 2
    }
    assert expected_groups  # the adversarial set must exercise grouping

    target = f"SELECT doc_id, {llm._URL_SYN_SQL} AS u FROM documents"
    sql = llm.ORACLE["q_dedup_url"]
    assert target in sql, "oracle u-CTE drifted from _URL_SYN_SQL"
    con = duckdb.connect()
    con.register("adv", pdf)
    got_duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            sql.replace(target, "SELECT doc_id, u FROM adv")
        ).fetchall()
    }
    got_spark_groups = {
        r["canon_url"]: (r["n_docs"], r["keeper_doc_id"])
        for r in sdf.select("doc_id", llm.canon_url_col("u").alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .collect()
    }
    assert got_duck == expected_groups == got_spark_groups


def test_mix_temperature_matches_python_and_flattens(spark, sf_dir):
    """q_mix_temperature vs a python replay (same IEEE sqrt + floor-div),
    plus the property that makes temperature sampling useful: the
    smallest source's share can only go UP, the largest's only DOWN."""
    import math

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    per = {}
    for r in docs:
        n = len([w for w in r["text"].split(" ") if w])
        d, t = per.get(r["source"], (0, 0))
        per[r["source"]] = (d + 1, t + n)
    tot_tok = sum(t for _, t in per.values())
    rts = {s: math.floor(math.sqrt(t)) for s, (_, t) in per.items()}
    tot_rt = sum(rts.values())
    expected = {
        s: (d, t, t * 10000 // tot_tok, rts[s] * 10000 // tot_rt)
        for s, (d, t) in per.items()
    }
    rows = QS["q_mix_temperature"](spark, sf_dir).collect()
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["raw_bp"], r["temp_bp"])
        for r in rows
    }
    assert got == expected
    small = min(got, key=lambda s: got[s][1])
    big = max(got, key=lambda s: got[s][1])
    assert got[small][3] >= got[small][2]  # upweighted
    assert got[big][3] <= got[big][2]      # downweighted


def test_chunk_fixed_matches_naive_python(spark, sf_dir):
    """q_chunk_fixed vs a python splitter: every doc becomes
    ceil(n/L) chunks of <= L=32 whitespace tokens; reassembling the
    chunks in chunk_id order must reproduce the token stream."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        toks = [w for w in r["text"].split(" ") if w]
        for i in range(0, (len(toks) + 31) // 32):
            part = toks[i * 32 : (i + 1) * 32]
            expected[(r["doc_id"], i)] = (len(part), " ".join(part))
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in QS["q_chunk_fixed"](spark, sf_dir).collect()
    }
    assert got == expected
    # multi-chunk docs must exist or the op is untested
    assert any(cid > 0 for _, cid in got)


def test_pack_concat_matches_naive_python(spark, sf_dir):
    """q_pack_concat vs a python replay of the concat-and-split layout:
    per shard, docs laid end-to-end in doc_id order, cut every L=128
    tokens. Also pins the span invariant: consecutive docs in a shard
    tile the token stream with no gaps."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shards = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        n = len([w for w in r["text"].split(" ") if w])
        if n == 0:
            continue
        shards.setdefault(r["doc_id"] % 8, []).append((r["doc_id"], n))
    expected = {}
    for sh, ds in shards.items():
        cum = 0
        for doc_id, n in ds:
            expected[doc_id] = (sh, n, cum // 128, (cum + n - 1) // 128, cum % 128)
            cum += n
    got = {
        r["doc_id"]: (
            r["shard"], r["n_tok"], r["first_seq"], r["last_seq"], r["offset_in_seq"]
        )
        for r in QS["q_pack_concat"](spark, sf_dir).collect()
    }
    assert got == expected
    # some doc must span a sequence boundary, else the op is untested
    assert any(f != l for _, _, f, l, _ in got.values())


def test_pack_greedy_matches_naive_python(spark, sf_dir):
    """q_pack_greedy vs an independent python greedy packer, plus the
    packing invariants: bins within a shard are contiguous from 0, and
    every bin fits L=128 tokens unless it holds a single oversized doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shards = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        n = len([w for w in r["text"].split(" ") if w])
        if n == 0:
            continue
        shards.setdefault(r["doc_id"] % 8, []).append((r["doc_id"], n))
    expected = {}
    for sh, ds in shards.items():
        fill, b = 0, 0
        for doc_id, n in ds:
            if fill > 0 and fill + n > 128:
                b, fill = b + 1, 0
            expected[doc_id] = (sh, n, b)
            fill += n
    got = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["bin_id"])
        for r in QS["q_pack_greedy"](spark, sf_dir).collect()
    }
    assert got == expected
    from collections import defaultdict

    fills = defaultdict(list)
    for sh, n, b in got.values():
        fills[(sh, b)].append(n)
    for (sh, b), ns in fills.items():
        assert sum(ns) <= 128 or len(ns) == 1  # only an oversized loner overflows
    per_shard = defaultdict(set)
    for sh, _, b in got.values():
        per_shard[sh].add(b)
    for sh, bs in per_shard.items():
        assert bs == set(range(max(bs) + 1))  # contiguous bin ids
        assert max(bs) >= 1  # multi-bin shards or the op is untested


def test_pack_bfd_matches_naive_python(spark, sf_dir):
    """q_pack_bfd vs an independent python best-fit-decreasing packer,
    plus the BFD invariants: bins within a shard are contiguous from 0,
    every bin fits L=128 unless it holds a single oversized doc, and no
    two open bins could have been merged at placement time (the doc that
    OPENED each later bin did not fit any earlier bin then)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shards = {}
    for r in docs:
        n = len([w for w in r["text"].split(" ") if w])
        if n == 0:
            continue
        shards.setdefault(r["doc_id"] % 8, []).append((r["doc_id"], n))
    expected = {}
    for sh, ds in shards.items():
        fills = []
        for doc_id, n in sorted(ds, key=lambda t: (-t[1], t[0])):
            best, best_fill = -1, -1
            for j, f in enumerate(fills):
                if f + n <= 128 and f > best_fill:
                    best, best_fill = j, f
            if best < 0:
                expected[doc_id] = (sh, n, len(fills))
                fills.append(n)
            else:
                expected[doc_id] = (sh, n, best)
                fills[best] += n
    got = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["bin_id"])
        for r in QS["q_pack_bfd"](spark, sf_dir).collect()
    }
    assert got == expected
    from collections import defaultdict

    fills = defaultdict(list)
    for sh, n, b in got.values():
        fills[(sh, b)].append(n)
    for (sh, b), ns in fills.items():
        assert sum(ns) <= 128 or len(ns) == 1  # only an oversized loner overflows
    per_shard = defaultdict(set)
    for sh, _, b in got.values():
        per_shard[sh].add(b)
    for sh, bs in per_shard.items():
        assert bs == set(range(max(bs) + 1))  # contiguous bin ids
        assert max(bs) >= 1  # multi-bin shards or the op is untested


def test_pack_eff_matches_naive_python(spark, sf_dir):
    """q_pack_eff vs a python recompute over the same greedy replay used
    by test_pack_greedy, plus the recipe-comparison invariant: concat
    (which only wastes each shard's final partial sequence) can never be
    less efficient than greedy no-split packing."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shards = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        n = len([w for w in r["text"].split(" ") if w])
        if n:
            shards.setdefault(r["doc_id"] % 8, []).append(n)
    fills = {}
    n_docs = n_tokens = 0
    for sh, ns in shards.items():
        fill, b = 0, 0
        for n in ns:
            if fill > 0 and fill + n > 128:
                b, fill = b + 1, 0
            fill += n
            fills[(sh, b)] = fill
            n_docs += 1
            n_tokens += n
    n_bins = len(fills)
    padding = sum(max(128 - f, 0) for f in fills.values())
    used = sum(min(f, 128) for f in fills.values())
    n_seqs = sum((sum(ns) + 127) // 128 for ns in shards.values())
    bfd_fills = []
    for sh, ns in shards.items():
        sh_fills = []
        for n in sorted(ns, reverse=True):  # n_tok desc; doc order irrelevant
            best, best_fill = -1, -1
            for j, f in enumerate(sh_fills):
                if f + n <= 128 and f > best_fill:
                    best, best_fill = j, f
            if best < 0:
                sh_fills.append(n)
            else:
                sh_fills[best] += n
        bfd_fills.extend(sh_fills)
    n_bins_bfd = len(bfd_fills)
    used_bfd = sum(min(f, 128) for f in bfd_fills)
    [r] = QS["q_pack_eff"](spark, sf_dir).collect()
    assert (
        r["n_docs"], r["n_tokens"], r["n_bins"], r["padding_tokens"],
        r["greedy_eff_bp"], r["n_seqs_concat"], r["concat_eff_bp"],
        r["n_bins_bfd"], r["bfd_eff_bp"],
    ) == (
        n_docs, n_tokens, n_bins, padding,
        used * 10000 // (n_bins * 128), n_seqs,
        n_tokens * 10000 // (n_seqs * 128),
        n_bins_bfd, used_bfd * 10000 // (n_bins_bfd * 128),
    )
    assert r["concat_eff_bp"] >= r["greedy_eff_bp"]
    # the BFD guarantee the three-way report exists to confirm: best-fit
    # over size-sorted docs never packs worse than arrival-order greedy
    assert r["bfd_eff_bp"] >= r["greedy_eff_bp"]
    assert r["padding_tokens"] + r["n_tokens"] >= r["n_bins"] * 128  # bins full or padded


def test_chunk_overlap_matches_naive_python(spark, sf_dir):
    """q_chunk_overlap vs a python sliding-window splitter (W=32, S=24),
    plus the overlap invariants: consecutive chunks overlap by exactly
    W−S tokens, the final chunk reaches the end of the doc, and no chunk
    is fully contained in its predecessor."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    W, S = 32, 24
    expected = {}
    for r in docs:
        toks = [w for w in r["text"].split(" ") if w]
        n = len(toks)
        if n == 0:
            continue
        n_chunks = 1 if n <= W else 1 + -(-(n - W) // S)
        for i in range(n_chunks):
            part = toks[i * S : i * S + W]
            expected[(r["doc_id"], i)] = (i * S + 1, len(part), " ".join(part))
    got = {
        (r["doc_id"], r["chunk_id"]): (r["start_pos"], r["n_tokens"], r["chunk_text"])
        for r in QS["q_chunk_overlap"](spark, sf_dir).collect()
    }
    assert got == expected
    by_doc = {}
    for (d, i), (sp, nt, _) in got.items():
        by_doc.setdefault(d, {})[i] = (sp, nt)
    assert any(len(c) > 1 for c in by_doc.values())  # multi-chunk docs exist
    for d, chunks in by_doc.items():
        last = max(chunks)
        for i in range(last):
            sp, nt = chunks[i]
            sp2, nt2 = chunks[i + 1]
            assert sp + nt - sp2 == W - S  # exact overlap between neighbors
            assert sp2 + nt2 > sp + nt     # successor extends coverage


def test_assembly_pipeline_matches_naive_python(spark, sf_dir):
    """q_assembly_pipeline vs a python replay of all four stages (gate →
    exact dedup → 5-gram decontamination → greedy pack), plus the bin
    invariant: every bin fits L=128 unless it holds a single oversized
    doc."""
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def grams(text):
        t = text.split(" ")
        if len(t) < 5:
            return {text}
        return {" ".join(t[i : i + 5]) for i in range(len(t) - 4)}

    n_tok = {d: len([w for w in t.split(" ") if w]) for d, t in docs.items()}
    gated = {d for d in docs if d % 97 != 0 and n_tok[d] >= 5}
    # keeper = smallest doc_id per distinct text among gated docs
    by_text = {}
    for d in sorted(gated):
        by_text.setdefault(docs[d], d)
    keep = set(by_text.values())
    evg = set().union(*(grams(docs[d]) for d in docs if d % 97 == 0)) if any(
        d % 97 == 0 for d in docs
    ) else set()
    surv = sorted(
        d for d in gated
        if d in keep and not (grams(docs[d]) & evg)
    )
    expected = {}
    fills = {}
    for d in surv:
        sh = d % 8
        fill, b = fills.get(sh, (0, 0))
        if fill > 0 and fill + n_tok[d] > 128:
            b, fill = b + 1, 0
        fill += n_tok[d]
        fills[sh] = (fill, b)
        key = (sh, b)
        nd, nt = expected.get(key, (0, 0))
        expected[key] = (nd + 1, nt + n_tok[d])
    got = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["n_tokens"])
        for r in QS["q_assembly_pipeline"](spark, sf_dir).collect()
    }
    assert got == expected and expected
    for (sh, b), (nd, nt) in got.items():
        assert nt <= 128 or nd == 1


def test_assembly_report_telescopes_and_matches_pipeline(spark, sf_dir):
    """The funnel terms must telescope (input = eval + gate + dup +
    contaminated + survivors) and agree with q_assembly_pipeline's packed
    output (same doc count and token mass — the report and the pipeline
    share stage definitions verbatim)."""
    [r] = QS["q_assembly_report"](spark, sf_dir).collect()
    assert (
        r["n_input"]
        == r["n_eval_heldout"] + r["n_gate_dropped"] + r["n_dup_dropped"]
        + r["n_contaminated"] + r["n_survivors"]
    )
    packed = QS["q_assembly_pipeline"](spark, sf_dir).collect()
    assert sum(p["n_docs"] for p in packed) == r["n_survivors"]
    assert sum(p["n_tokens"] for p in packed) == r["n_tokens_out"]
    # the fixture must exercise every stage or the funnel is untested
    assert r["n_eval_heldout"] > 0 and r["n_survivors"] > 0
    # contamination is seeded in every fixture; exact dupes only appear
    # at sf >= 0.01, so require the union, not each stage
    assert r["n_contaminated"] > 0
    assert r["n_dup_dropped"] >= 0 and r["n_gate_dropped"] >= 0


def _uni_viterbi(w, vocab):
    """Independent python replay of the unigram Viterbi: minimize
    k·BIG − Σ(cnt+1), backtrace smallest piece length on ties."""
    BIG = 1 << 36
    n = len(w)
    dp = [0] + [None] * n
    for i in range(1, n + 1):
        best = None
        for L in (1, 2, 3, 4):
            if i >= L and dp[i - L] is not None:
                c = vocab.get(w[i - L : i])
                if c is not None:
                    cand = dp[i - L] + BIG - (c + 1)
                    if best is None or cand < best:
                        best = cand
        dp[i] = best
    pieces, p = [], n
    while p > 0:
        for L in (1, 2, 3, 4):
            c = vocab.get(w[p - L : p]) if p >= L else None
            if (
                c is not None
                and dp[p - L] is not None
                and dp[p] == dp[p - L] + BIG - (c + 1)
            ):
                pieces.append(w[p - L : p])
                p -= L
                break
    return list(reversed(pieces))


def _uni_train_replay(census):
    """Independent python replay of the unigram trainer (seed → 2 × EM)."""
    from collections import Counter

    sing, multi = Counter(), Counter()
    for w, wc in census.items():
        for ch in w:
            sing[ch] += wc
        for L in (2, 3, 4):
            for i in range(len(w) - L + 1):
                multi[w[i : i + L]] += wc
    seed = dict(sorted(multi.items(), key=lambda kv: (-kv[1], kv[0]))[:60])
    vocab = {**dict(sing), **seed}
    for _ in range(2):
        usage = Counter()
        for w, wc in census.items():
            for pc in _uni_viterbi(w, vocab):
                usage[pc] += wc
        vocab = {ch: usage.get(ch, 0) for ch in sing}
        vocab.update(
            dict(
                sorted(
                    ((p, c) for p, c in usage.items() if len(p) >= 2),
                    key=lambda kv: (-kv[1], kv[0]),
                )[:40]
            )
        )
    return vocab


def _uni_census_replay(spark, sf_dir):
    from collections import Counter

    census = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        for w in r["text"].split(" "):
            if w and len(w) <= 32:
                census[w] += 1
    return census


def test_unigram_train_matches_naive_python(spark, sf_dir):
    """q_unigram_train vs a from-scratch python trainer (census → char +
    top-60 substring seed → two Viterbi-EM rounds with top-40 pruning),
    plus the vocab invariants: every census character survives as a
    single-char piece, and multi-char pieces carry positive usage."""
    vocab = _uni_train_replay(_uni_census_replay(spark, sf_dir))
    got = {
        r["piece"]: r["cnt"]
        for r in QS["q_unigram_train"](spark, sf_dir).collect()
    }
    assert got == vocab and got
    multis = {p: c for p, c in got.items() if len(p) >= 2}
    assert multis and all(c >= 1 for c in multis.values())
    chars = {ch for w in _uni_census_replay(spark, sf_dir) for ch in w}
    assert chars == {p for p in got if len(p) == 1}


def test_unigram_pipeline_matches_python_replay(spark, sf_dir):
    """The composed unigram train→apply key vs a python replay: the
    trained vocab (pinned canonical by test_unigram_train) applied via
    the same Viterbi, accumulated per lang; plus each word is >= 1
    subword and subwords never exceed characters."""
    from collections import defaultdict

    vocab = _uni_train_replay(_uni_census_replay(spark, sf_dir))
    expected = defaultdict(lambda: [set(), 0, 0])
    rows = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    ).collect()
    for r in rows:
        ws = [w for w in r["text"].split(" ") if w and len(w) <= 32]
        if not ws:
            continue
        e = expected[r["lang"]]
        e[0].add(r["doc_id"])
        e[1] += len(ws)
        e[2] += sum(len(_uni_viterbi(w, vocab)) for w in ws)
    got = {
        r["lang"]: [r["n_docs"], r["n_words"], r["n_subwords"]]
        for r in QS["q_unigram_pipeline"](spark, sf_dir).collect()
    }
    assert got == {k: [len(s), nw, ns] for k, (s, nw, ns) in expected.items()}
    for n_docs, n_words, n_subwords in got.values():
        assert n_words <= n_subwords  # each word >= 1 piece


def test_unigram_beats_char_segmentation(spark, sf_dir):
    """The trained tokenizer must actually compress: total subwords under
    the unigram vocab strictly below total characters-in-words (the
    char-fallback segmentation every vocab contains), and the two
    tokenizer families should land in the same compression regime."""
    uni = {r["lang"]: r for r in QS["q_unigram_pipeline"](spark, sf_dir).collect()}
    bpe = {r["lang"]: r for r in QS["q_bpe_pipeline"](spark, sf_dir).collect()}
    chars = {}
    for r in load_table(spark, sf_dir, "documents").select("lang", "text").collect():
        ws = [w for w in r["text"].split(" ") if w and len(w) <= 32]
        chars[r["lang"]] = chars.get(r["lang"], 0) + sum(len(w) for w in ws)
    for lang, row in uni.items():
        assert row["n_subwords"] < chars[lang]  # strictly better than chars
        # same regime as BPE on the shared corpus: within 2x of each other
        assert row["n_subwords"] <= 2 * bpe[lang]["n_subwords"]


def test_wordpiece_train_matches_naive_python(spark, sf_dir):
    """q_wordpiece_train vs a from-scratch python WordPiece trainer
    (Schuster & Nakajima 2012): same census/rewrite as the BPE replay but
    the argmax is the integer likelihood score cnt(xy)*1e9 // (cx*cy),
    ties (score desc, x, y). Rank-for-rank equality, plus the triad
    property: the WordPiece merge sequence differs from BPE's (frequency
    and association pick different pairs on this corpus)."""
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    words = [w for r in docs for w in r["text"].split(" ") if len(w) >= 2]
    census = Counter("·".join(w) for w in words)
    expected = []
    for rank in range(1, 9):
        pc, sc = Counter(), Counter()
        for sym, wc in census.items():
            s = sym.split("·")
            for t in s:
                sc[t] += wc
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += wc
        if not pc:
            break
        scored = [
            (cnt * 10**9 // (sc[x] * sc[y]), x, y, cnt)
            for (x, y), cnt in pc.items()
        ]
        # deterministic (score desc, x asc, y asc) argmax
        score, x, y, cnt = sorted(scored, key=lambda t: (-t[0], t[1], t[2]))[0]
        expected.append((rank, x, y, x + y, cnt, score))
        if rank == 8:
            break
        nc = Counter()
        for sym, wc in census.items():
            s = sym.split("·")
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            nc["·".join(out)] += wc
        census = nc
    got = [
        (r["rank"], r["x"], r["y"], r["merged"], r["cnt"], r["score_x1e9"])
        for r in QS["q_wordpiece_train"](spark, sf_dir).collect()
    ]
    assert got == expected and got
    bpe = [(r["x"], r["y"]) for r in QS["q_bpe_train"](spark, sf_dir).collect()]
    assert [(x, y) for _, x, y, _, _, _ in got] != bpe  # distinct families


def test_wordpiece_pipeline_matches_python_replay(spark, sf_dir):
    """The composed WordPiece train→apply vs a python replay — the
    trained merges applied with the same replace-chain convention as the
    BPE replay (one apply definition serves both families)."""
    from collections import defaultdict

    trained = QS["q_wordpiece_train"](spark, sf_dir).collect()
    merges = [(r["x"], r["y"]) for r in trained]

    def subwords(w):
        s = "·".join(w)
        for x, y in merges:
            s = s.replace(f"{x}·{y}", f"{x}{y}")
        return len([t for t in s.split("·") if t])

    expected = defaultdict(lambda: [0, 0, 0])
    rows = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    ).collect()
    for r in rows:
        ws = [w for w in r["text"].split(" ") if w]
        e = expected[r["lang"]]
        e[0] += 1
        e[1] += len(ws)
        e[2] += sum(subwords(w) for w in ws)
    got = {
        r["lang"]: [r["n_docs"], r["n_words"], r["n_subwords"]]
        for r in QS["q_wordpiece_pipeline"](spark, sf_dir).collect()
    }
    assert got == dict(expected)


def test_unigram_curve_monotone_and_consistent(spark, sf_dir):
    """q_unigram_curve invariants: total_subwords is non-increasing in
    the number of multi-char pieces kept (a superset vocab can only
    improve the DP minimum); the m=0 point equals the census character
    count (singles-only segmentation); and the final point (the full
    trained vocab) equals q_unigram_pipeline's corpus-wide subword total
    — curve and pipeline are the same model."""
    pts = {
        r["n_multi_pieces"]: r["total_subwords"]
        for r in QS["q_unigram_curve"](spark, sf_dir).collect()
    }
    ms = sorted(pts)
    assert ms[0] == 0 and len(ms) == 4
    for a, b in zip(ms, ms[1:]):
        assert pts[a] >= pts[b]
    assert pts[ms[0]] > pts[ms[-1]]  # the vocab actually compresses
    chars = sum(
        len(w)
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
        for w in r["text"].split(" ")
        if w and len(w) <= 32
    )
    assert pts[0] == chars
    pipe_total = sum(
        r["n_subwords"] for r in QS["q_unigram_pipeline"](spark, sf_dir).collect()
    )
    assert pts[ms[-1]] == pipe_total
