"""Seeded inputs for the benchmark.

Everything the program reads is made here from the workload seed, so the
same seed gives byte-identical inputs:

* :func:`write_tables` writes the ten catalog tables (``region`` ...
  ``embeddings``) as single parquet files, in the value domains of the
  sf fixtures (TESTDATA.md) and with a seeded row permutation, so
  no key can lean on storage order.
* :func:`write_dump` writes a mongoexport dump: a dated collection sharded
  into ``nproc`` files with every extended-JSON envelope the scan unwraps,
  and a flat collection without a date field. It returns what a correct
  export must write, for the output check.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table sizes (rows), most about 1/25 of the sf0.1 fixtures. At these sizes a
#: pass of the query mix runs about 70 Spark jobs in 8-11 s on 4 cores, and
#: executor task CPU is about an eighth of the process tree's CPU: the
#: per-job floor and driver-side work dominate. sf0.1-sized tables would
#: make a pass several times longer than a run can afford.
SIZES = {
    "customer": 600,
    "supplier": 40,
    "part": 800,
    "orders": 6000,
    "events": 4000,
    "documents": 300,
    "embeddings": 300,
}
N_USERS = 120
EMBED_DIM = 64
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = "small red hot blue large old green cold".split()
NOUN = "ring widget bolt gear plate rod nut pipe".split()

#: The export job's inclusive date range (ExportJob / reference $gte/$lte).
EXPORT_START = dt.datetime(2019, 1, 1)
EXPORT_END = dt.datetime(2023, 12, 31, 23, 59, 59, 999000)
#: Dump size. An export op costs about 2.3 s whatever the size, plus about
#: 19 us per document; at this size parsing and the partitioned write make
#: up about two thirds of the op.
DUMP_DOCS = 240000
FLAT_DOCS = 1000


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict, rng) -> None:
    t = pa.table(cols)
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten catalog tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, rng)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }, rng)

    nc = SIZES["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ).tolist(),
    }, rng)

    ns = SIZES["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }, rng)

    npart = SIZES["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    }, rng)

    no = SIZES["orders"]
    odate = _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ).tolist(),
    }, rng)

    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype("float64")
    ship = odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }, rng)

    ne = SIZES["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), i64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], ne
        ).tolist(),
        "value": np.round(rng.exponential(25.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }, rng)

    nd = SIZES["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], nd,
                           p=[0.14, 0.44, 0.14, 0.13, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }, rng)

    nv = SIZES["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    v = centers[label] * 0.15 + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    }, rng)


def write_dump(out_dir: str, seed: int, shards: int) -> dict:
    """Write a mongoexport dump under ``out_dir`` and return the expected
    export: per-``year=`` row counts and value sums of the dated
    collection ``sales`` after the date range, and the flat collection's
    total.

    ``sales`` carries ``$oid``, ``$numberLong``, ``$numberInt``,
    ``$numberDecimal``, both ``$date`` forms (ISO string and
    ``{"$numberLong": ms}``), a nested subdocument and an array; about 1%
    of its dates are null or missing, and the years on either side of the
    range fall outside it. ``customers`` has no date field.
    """
    rng = np.random.default_rng(seed + 7919)
    sales_dir = os.path.join(out_dir, "sales")
    os.makedirs(sales_dir, exist_ok=True)
    n = DUMP_DOCS
    lo, hi = 1514764800000, 1735689599999  # 2018-01-01 .. 2024-12-31T23:59:59.999Z
    start_ms = int((EXPORT_START - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
    end_ms = int((EXPORT_END - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
    seq = rng.integers(0, 2**40, n)
    qty = rng.integers(1, 1000, n)
    cents = rng.integers(1, 10**7, n)
    price = np.round(rng.uniform(0.5, 500.0, n), 2)
    cust = rng.integers(0, 5000, n)
    tier = rng.integers(0, 3, n)
    ntags = rng.integers(0, 4, n)
    tags = rng.integers(0, len(VOCAB), (n, 3))
    r = rng.random(n)
    ms = rng.integers(lo, hi, n)
    # keep clear of the inclusive range edges: the check must not depend
    # on sub-millisecond float rounding
    ms[(np.abs(ms - start_ms) < 1000) | (np.abs(ms - end_ms) < 1000)] += 5000
    # r < 0.005: null date; 0.005 <= r < 0.01: no date field; then half
    # ISO strings, half {"$numberLong": ms}
    tiers = ("gold", "silver", "bronze")
    oid = f"{seed & 0xFFFFFFFF:08x}"
    iso = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    lines: list[list[str]] = [[] for _ in range(shards)]
    for i, (q, m, d, sq, qt, c, p, cu, ti, nt, tg) in enumerate(zip(
        r.tolist(), ms.tolist(), iso.tolist(), seq.tolist(), qty.tolist(), cents.tolist(),
        price.tolist(), cust.tolist(), tier.tolist(), ntags.tolist(), tags.tolist(),
    )):
        if q < 0.005:
            date = ', "created_at": null'
        elif q < 0.01:
            date = ""
        elif q < 0.5:
            date = f', "created_at": {{"$date": "{d}Z"}}'
        else:
            date = f', "created_at": {{"$date": {{"$numberLong": "{m}"}}}}'
        lines[i % shards].append(
            f'{{"_id": {{"$oid": "{oid}{i:016x}"}}, '
            f'"seq": {{"$numberLong": "{sq}"}}, '
            f'"qty": {{"$numberInt": "{qt}"}}, '
            f'"amount": {{"$numberDecimal": "{c // 100}.{c % 100:02d}"}}, '
            f'"price": {p!r}, '
            f'"customer": {{"name": "c{cu}", "tier": "{tiers[ti]}"}}, '
            f'"tags": {json.dumps([VOCAB[t] for t in tg[:nt]])}'
            f"{date}}}\n"
        )
    bytes_in = 0
    for shard, shard_lines in enumerate(lines):
        text = "".join(shard_lines)
        with open(os.path.join(sales_dir, f"sales-{shard:03d}.json"), "w") as fh:
            fh.write(text)
        bytes_in += len(text)

    # the range query drops null, missing and out-of-range dates
    keep = (r >= 0.01) & (ms >= start_ms) & (ms <= end_ms)
    years = ms[keep].astype("datetime64[ms]").astype("datetime64[Y]").astype(int) + 1970
    expect: dict = {"years": {}, "bytes_in": bytes_in}
    for y in np.unique(years):
        sel = years == y
        expect["years"][str(y)] = [
            int(sel.sum()),
            int(seq[keep][sel].sum()),
            int(qty[keep][sel].sum()),
            int(cents[keep][sel].sum()),
        ]

    visits = rng.integers(0, 10**6, FLAT_DOCS)
    ftier = rng.integers(0, 3, FLAT_DOCS)
    with open(os.path.join(out_dir, "customers.jsonl"), "w") as fh:
        for i, (v, ti) in enumerate(zip(visits.tolist(), ftier.tolist())):
            line = (
                f'{{"_id": {{"$oid": "{i:024x}"}}, "name": "c{i}", '
                f'"visits": {{"$numberLong": "{v}"}}, "tier": "{tiers[ti]}"}}\n'
            )
            fh.write(line)
            expect["bytes_in"] += len(line)
    expect["flat"] = [FLAT_DOCS, int(visits.sum())]
    return expect
