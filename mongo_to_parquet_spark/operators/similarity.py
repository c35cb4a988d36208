"""Similarity search over embedding columns (SURVEY §2.3 N★).

What it holds, trading exactness for scale:

  exact top-k   brute_force_topk(_batch), range_search, hard_negatives:
                broadcast the probe (or probe batch), score every vector
                JVM-side (functions/vector.py). One probe ends in
                ``orderBy().limit(k)`` (TakeOrderedAndProject: per-partition
                top-k, one driver merge); a batch in a per-probe rank
                window (WindowGroupLimit).
  lsh_topk      random-hyperplane LSH: scan only the probe's bucket.
  IVF           the first n_cells vectors by id as coarse centroids,
                nearest-centroid cells, probe the n_probe nearest: in
                memory (ivf_topk(_batch)) or as a cell-partitioned layout
                (build_ivf_layout, ivf_append, ivf_topk_from_layout).
  PQ, IVF×PQ    SQ8 quantization (sq8_dims), 2-subspace PQ codes (pq_codes,
                pq_encode_frozen) and the IVF×PQ layout served by integer
                ADC with an optional exact re-rank (build_ivfpq_layout,
                ivfpq_append, ivfpq_topk_*).
  drift         recall_leg measures a layout against brute force;
                maintain_ivf_layout / maintain_ivfpq_layout rebuild it on
                drift through one loop (_maintain_layout).
  k-means       Lloyd's, on integer-quantized distances.

Each step the operators share is one private builder: the probe batch
(_probe_rows, _probe_batch), the rounded cosine (_sim) and its single-probe
and per-probe tails (_sim_topk, _probe_topk), the per-probe cell pick
(_probe_cells), SQ8 (_sq8, _sq8_dims), the PQ split, argmin and ADC table
(_pq_split, _pq_argmin, _adc_table).

Embedding near-dup (cosine ≥ τ pair mining) lives here too — used by
queries/llm.py with a same-label blocking key; unblocked variant pairs via
LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions.vector import cosine, dot, norm
from mongo_to_parquet_spark.operators.parallel import fan_out
from mongo_to_parquet_spark.operators.scope import pinned


def _probe_df(emb: DataFrame, probe_id: int, id_col: str, vec_col: str) -> DataFrame:
    return emb.filter(F.col(id_col) == probe_id).select(F.col(vec_col).alias("__probe"))


def _probe_rows(rows: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """(probe_id, __probe, *extra): the probe side of every batch operator."""
    return rows.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("__probe"), *extra
    )


def _probe_batch(emb: DataFrame, probe_ids, id_col: str, vec_col: str, *extra):
    """The broadcast :func:`_probe_rows` of the vectors in ``probe_ids``."""
    probes = emb.filter(F.col(id_col).isin(list(probe_ids)))
    return F.broadcast(_probe_rows(probes, id_col, vec_col, *extra))


def _sim(vec_col: str, probe):
    """The rounded cosine every top-k here ranks by: 4dp, so ties and the
    (sim desc, id asc) order are engine-stable."""
    return F.round(cosine(F.col(vec_col), probe), 4).alias("sim")


def _sim_topk(df: DataFrame, probe, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Single-probe tail: (id, sim), the first k by sim desc, id asc —
    plans as TakeOrderedAndProject."""
    return (
        df.select(F.col(id_col), _sim(vec_col, probe))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _probe_topk(scored: DataFrame, k: int, id_col: str, by=None) -> DataFrame:
    """Per-probe tail: ``rk`` = row_number over (partition by probe_id
    order by ``by`` (default sim desc), id asc), kept while rk ≤ k —
    plans as WindowGroupLimit."""
    by = F.col("sim").desc() if by is None else by
    w = Window.partitionBy("probe_id").orderBy(by, F.col(id_col).asc())
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def _probe_cells(cents: DataFrame, probes: DataFrame, n_probe: int) -> DataFrame:
    """(probe_id, cell, crk ≤ n_probe): each probe's cells by centroid dot
    product, nearest first, cell asc on ties."""
    cw = Window.partitionBy("probe_id").orderBy(
        F.col("pscore").desc(), F.col("cell").asc()
    )
    return (
        cents.crossJoin(probes)
        .withColumn("pscore", dot(F.col("cvec"), F.col("__probe")))
        .withColumn("crk", F.row_number().over(cw).cast("long"))
        .filter(F.col("crk") <= n_probe)
        .select("probe_id", "cell", "crk")
    )


def brute_force_topk(
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the probe vector (probe excluded).

    Deterministic total order: (rounded sim desc, id asc) — ties broken by
    id so results hash-match an oracle that sorts the same way.
    """
    probe = F.broadcast(_probe_df(emb, probe_id, id_col, vec_col))
    scored = emb.filter(F.col(id_col) != probe_id).crossJoin(probe)
    return _sim_topk(scored, F.col("__probe"), k, id_col, vec_col)


def brute_force_topk_batch(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for MANY probes in ONE corpus scan.

    The per-probe ``brute_force_topk`` costs a full scan each; at 100 TB
    the right shape is to broadcast the whole probe batch, score every
    (vector, probe) combination in a single pass, and take per-probe top-k
    through a rank window — which Spark short-circuits to
    ``WindowGroupLimit`` (asserted in tests/test_plans.py), so each
    partition only keeps k rows per probe. Scan cost is paid once no
    matter how many probes.
    """
    probes = _probe_batch(emb, probe_ids, id_col, vec_col)
    scored = emb.crossJoin(probes).filter(F.col(id_col) != F.col("probe_id"))
    return _probe_topk(
        scored.select("probe_id", F.col(id_col), _sim(vec_col, F.col("__probe"))),
        k,
        id_col,
    )


def hyperplane_bucket(vec_col, dim: int, n_planes: int = 12, seed: int = 42):
    """Sign-pattern bucket id from deterministic pseudo-random hyperplanes.

    Plane p's component j = hash-derived value in [-1,1] — reproducible with
    no stored model. Expression-only (codegen), no UDF.
    """
    def plane_component(p: int, j):
        h = F.xxhash64(F.lit(seed), F.lit(p), j)
        return (h % 10007).cast("double") / 10007.0  # ~uniform (-1, 1)

    def side(p: int):  # bit p: which side of plane p the vector falls on
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, j: x.cast("double") * plane_component(p, j),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):  # python loop: shift amounts must be literals
        bucket = bucket.bitwiseOR(side(p))
    return bucket


def lsh_topk(
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the probe's LSH bucket.

    At 100 TB the bucket column is computed once at ingest and the table is
    partitioned by it → the probe touches 1/2^n_planes of the data.
    """
    bucketed = emb.withColumn("__b", hyperplane_bucket(F.col(vec_col), dim, n_planes, seed))
    probe = F.broadcast(
        bucketed.filter(F.col(id_col) == probe_id).select(
            F.col(vec_col).alias("__probe"), F.col("__b").alias("__pb")
        )
    )
    scored = bucketed.crossJoin(probe).filter(
        (F.col("__b") == F.col("__pb")) & (F.col(id_col) != probe_id)
    )
    return _sim_topk(scored, F.col("__probe"), k, id_col, vec_col)


def _centroids(emb: DataFrame, n_cells: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic coarse centroids: the n_cells lowest-id vectors."""
    return (
        emb.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cell"),
            F.col(vec_col).alias("cvec"),
        )
    )


def _assign_cells(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    overlap: int = 1,
) -> DataFrame:
    """Tag every vector with its nearest centroid's cell id (argmax dot).

    ``overlap > 1`` is MULTI-ASSIGNMENT (soft assignment): each vector is
    indexed under its ``overlap`` nearest cells — storage ×overlap, and a
    probe finds a vector whenever ANY of its cells is probed, which is
    the standard cheap recall lever for IVF (measured in q_ann_tuning:
    at MATCHED candidate volume, overlap=2 @ n_probe=p beats overlap=1 @
    n_probe=2p). With overlap > 1 the output carries ``ark`` (1 = the
    cell a single-assignment index would use) and consumers must dedup
    by id after probing (a vector reached via two probed cells is one
    candidate)."""
    ranked = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("score", dot(F.col(vec_col), F.col("cvec")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("cell").asc())
            ),
        )
    )
    if overlap <= 1:
        return ranked.filter(F.col("rk") == 1).select(id_col, vec_col, "cell")
    return ranked.filter(F.col("rk") <= overlap).select(
        id_col, vec_col, "cell", F.col("rk").cast("bigint").alias("ark")
    )


def ivf_topk(
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat: deterministic coarse centroids, assign every vector to its
    nearest centroid by dot product, then scan only the n_probe cells
    nearest the probe."""
    cents = F.broadcast(_centroids(emb, n_cells, id_col, vec_col))
    assigned = _assign_cells(emb, cents, id_col, vec_col)
    # probe the n_probe cells whose centroid is nearest the probe vector
    probe_vec = F.broadcast(_probe_df(emb, probe_id, id_col, vec_col))
    cells = (
        cents.crossJoin(probe_vec)
        .withColumn("pscore", dot(F.col("cvec"), F.col("__probe")))
        .orderBy(F.col("pscore").desc(), F.col("cell").asc())
        .limit(n_probe)
        .select("cell")
    )
    scored = (
        assigned.join(F.broadcast(cells), "cell")
        .filter(F.col(id_col) != probe_id)
        .crossJoin(probe_vec)
    )
    return _sim_topk(scored, F.col("__probe"), k, id_col, vec_col)


def _ivf_batch(
    emb: DataFrame,
    cents: DataFrame,
    probes: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF-flat top-k of a probe batch under the given (broadcast)
    centroids: assign every vector of ``emb`` to its nearest cell, let each
    probe scan its own n_probe cells, rank per probe. Returns (probe_id,
    id, sim, rk ≤ k)."""
    assigned = _assign_cells(emb, cents, id_col, vec_col)
    cells = _probe_cells(cents, probes, n_probe).select("probe_id", "cell")
    scored = (
        assigned.join(F.broadcast(cells), "cell")
        .filter(F.col(id_col) != F.col("probe_id"))
        .join(probes, "probe_id")
    )
    return _probe_topk(
        scored.select("probe_id", F.col(id_col), _sim(vec_col, F.col("__probe"))),
        k,
        id_col,
    )


def ivf_topk_batch(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat for MANY probes in one pass: each probe scans only its
    own n_probe nearest cells, but the cell assignment — the expensive
    corpus-sized step — is computed ONCE and shared across probes.

    Returns (probe_id, id, sim, rk) with rk ≤ k per probe, ranked by
    (rounded sim desc, id asc) like :func:`brute_force_topk_batch` so the
    two are directly joinable for recall evaluation.
    """
    cents = F.broadcast(_centroids(emb, n_cells, id_col, vec_col))
    probes = _probe_batch(emb, probe_ids, id_col, vec_col)
    return _ivf_batch(emb, cents, probes, k, n_probe, id_col, vec_col)


#: layout metadata marker — the ANN analogue of the artifact store's
#: commit marker: records WHAT configuration built the layout (family,
#: n_cells, overlap, …) and, when the builder measured it, the
#: build-time recall, so a serve can refuse a layout built under a
#: different contract and a drift probe can compare now-vs-build recall
#: (round-9 verdict item 4 — the tokenizer store's mismatch refusal,
#: applied to layouts).
LAYOUT_MARKER = "_LAYOUT.json"


def write_layout_meta(layout_dir: str, meta: dict) -> None:
    """Atomic tmp+rename, same durability convention as the artifact
    store's commit marker (written strictly AFTER the layout data)."""
    import json
    import os

    path = os.path.join(layout_dir, LAYOUT_MARKER)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def invalidate_layout_meta(layout_dir: str) -> None:
    """Remove the marker BEFORE a rebuild's overwrite writes begin, so a
    crash mid-rebuild (or a concurrent reader during the rewrite window)
    sees config-unknown ({}) — refused by :func:`layout_current` — rather
    than the PREVIOUS build's marker over partial or differently-configured
    data. The marker-after-data convention needs this invalidate-first
    half to hold across rebuilds, not just first builds."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(layout_dir, LAYOUT_MARKER))


def read_layout_meta(layout_dir: str) -> dict:
    """{} when absent (a pre-marker layout: treat as config-unknown)."""
    import json
    import os

    path = os.path.join(layout_dir, LAYOUT_MARKER)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def layout_current(layout_dir: str, want: dict) -> bool:
    """True iff the layout's marker exists and matches every ``want``
    item — a layout built under an older config (or with no marker at
    all) must be rebuilt, not served; mirror of
    operators/tokenizer.artifact_current."""
    meta = read_layout_meta(layout_dir)
    return bool(meta) and all(meta.get(k) == v for k, v in want.items())


#: session memo of a layout's driver-side serve state, keyed by the
#: marker's (mtime_ns, size) — see :func:`layout_serve_state`
_SERVE_CACHE: dict[str, dict] = {}


def _marker_stamp(layout_dir: str):
    import os

    try:
        st = os.stat(os.path.join(layout_dir, LAYOUT_MARKER))
        return (st.st_mtime_ns, st.st_size)
    except FileNotFoundError:
        return None


def layout_serve_state(spark, layout_dir: str, parts=()) -> dict:
    """Memoized driver-side reads for serving a layout (round-10 verdict
    item 6 — the ivfpq serve re-read marker + centroids/rng/codebook from
    parquet on EVERY call): the marker meta plus the requested bounded
    model tables as plain Python rows, cached per (layout_dir, marker
    mtime_ns+size). Every rebuild re-lands the marker (write_layout_meta
    os.replace → new stamp), so the cache self-invalidates on rewrite;
    a MISSING marker (mid-rebuild window, invalidate-first) is never
    cached and reads as config-unknown meta={} — the refusal semantics
    are unchanged, only the repeated driver reads are. Only model-sized
    tables belong in ``parts`` (centroids / rng / codebook — never
    vectors or codes)."""
    stamp = _marker_stamp(layout_dir)
    if stamp is None:
        # marker-less (pre-marker layout, or the invalidate-first rebuild
        # window): config-unknown, NEVER cached — but the model tables
        # still load (fresh each call) so legacy layouts keep serving
        _SERVE_CACHE.pop(layout_dir, None)
        ent = {"meta": {}}
        for p in parts:
            ent[p] = [
                r.asDict()
                for r in spark.read.parquet(f"{layout_dir}/{p}").collect()
            ]
        return ent
    ent = _SERVE_CACHE.get(layout_dir)
    if ent is None or ent["stamp"] != stamp:
        ent = {"stamp": stamp, "meta": read_layout_meta(layout_dir)}
        _SERVE_CACHE[layout_dir] = ent
    for p in parts:
        if p not in ent:
            ent[p] = [
                r.asDict()
                for r in spark.read.parquet(f"{layout_dir}/{p}").collect()
            ]
    return ent


def _py_dot(a, b) -> float:
    """Driver-side replica of functions/vector.dot: sequential
    left-to-right double accumulation — same IEEE ops in the same order,
    so the cached cell pick is bit-identical to the Spark expression."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _pick_cells(cent_rows, probe_vec, n_probe: int) -> list[str]:
    """n_probe nearest cells by centroid dot product over the CACHED
    centroid rows (pscore desc, cell asc — the serve tiebreak), as the
    string partition values the `cell IN (…)` filter needs."""
    scored = [
        (_py_dot(r["cvec"], probe_vec), r["cell"]) for r in cent_rows
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [str(c) for _, c in scored[:n_probe]]


def _adc_map_expr(adc_rows):
    """The driver-computed ADC table as a LITERAL map expression
    (key = sub·10⁶ + cid → pd): candidates look their distance up with
    element_at instead of joining a per-call createDataFrame — measured
    ~3× serve-latency win (the Py4J DataFrame build + broadcast join
    dominated the old path, not the reads)."""
    kv = []
    for sub, cid, pd in adc_rows:
        kv.append(F.lit(int(sub) * 1_000_000 + int(cid)).cast("bigint"))
        kv.append(F.lit(int(pd)).cast("bigint"))
    return F.create_map(*kv)


def _codes_df(spark, layout_dir: str, ent: dict):
    """The codes relation, memoized with the serve state so repeated
    serves skip partition re-listing; re-read if the cached DataFrame
    belongs to a stopped/other session."""
    df = ent.get("codes_df")
    if df is None or df.sparkSession is not spark:
        df = spark.read.parquet(f"{layout_dir}/codes")
        if "stamp" in ent:
            ent["codes_df"] = df
    return df


def _py_adc(codebook_rows, rng_rows, probe_vec) -> list[tuple]:
    """Driver-side ADC lookup table from the CACHED codebook/rng rows:
    SQ8-quantize the probe with _sq8's exact arithmetic (floor,
    clamp-high, identical op order), then per (sub, cid) the integer sum
    of squared component distances — all ints, exactly the join+agg the
    serve used to run as a Spark job per call."""
    import math

    pqv = {}
    for r in rng_rows:
        pos, mn, mx = r["pos"], r["mn"], r["mx"]
        if pos >= len(probe_vec):
            continue
        v = float(probe_vec[pos])
        pqv[pos] = (
            0
            if mx == mn
            else min(255, math.floor((v - mn) * 256.0 / (mx - mn)))
        )
    acc: dict[tuple, int] = {}
    for r in codebook_rows:
        if r["pos"] not in pqv:
            continue
        d = pqv[r["pos"]] - r["cqv"]
        key = (r["sub"], r["cid"])
        acc[key] = acc.get(key, 0) + d * d
    return [(s, c, pd) for (s, c), pd in sorted(acc.items())]


def _overlap_write_jobs(*thunks) -> None:
    """Run independent layout-piece write jobs CONCURRENTLY (guide §2.6:
    actions are only sequential because driver code calls them
    sequentially). A layout build writes one corpus-sized piece plus 1-3
    broadcast-sized pieces into disjoint directories; submitting them
    from a small thread pool lets the small jobs' tasks back-fill
    executors the big job's tail leaves idle, instead of paying one full
    job latency per piece. FIFO scheduling keeps the first (largest)
    job's resources intact. Exceptions propagate (the pool re-raises on
    result collection), so a failed piece still fails the build before
    the layout marker is written.

    Refuses to run under a loop-conf pin (operators/scope.py): the pin's
    confs are session-global, so the writes would silently inherit the
    loop's AQE-off / pinned-width plan."""
    from concurrent.futures import ThreadPoolExecutor

    if pinned():
        raise RuntimeError(
            "layout writes submitted under a loop-conf pin would inherit "
            "its session-global confs; build the layout outside the scope"
        )
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


def build_ivf_layout(
    emb: DataFrame,
    out_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overlap: int = 1,
) -> None:
    """Materialize the IVF index AS A LAYOUT (SCALE.md): vectors written
    partitioned by their cell, centroids saved alongside.

    At 100 TB the "index" is nothing but this directory structure — a probe
    reads the centroid table (tiny), picks its n_probe nearest cells, and
    the `cell IN (...)` filter becomes partition pruning on the scan: only
    n_probe/n_cells of the corpus is ever read. No index service, no
    external state, rebuilt by rewriting the layout.

    ``overlap > 1`` builds a MULTI-ASSIGNMENT layout: every vector is
    written under its ``overlap`` nearest cells (storage ×overlap), which
    raises recall at fixed n_probe — q_ann_tuning measures the trade, and
    at matched candidate volume overlap=2 beats probing twice the cells.
    The serve dedups by id (see :func:`ivf_topk_from_layout`); the
    layout marker records the overlap so mixed-config serving is refused
    by :func:`layout_current` checks.
    """
    invalidate_layout_meta(out_dir)
    cents = _centroids(emb, n_cells, id_col, vec_col)
    assigned = _assign_cells(
        emb, F.broadcast(cents), id_col, vec_col, overlap=overlap
    )
    _overlap_write_jobs(
        lambda: assigned.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{out_dir}/vectors"),
        lambda: cents.write.mode("overwrite").parquet(f"{out_dir}/centroids"),
    )
    write_layout_meta(
        out_dir, {"family": "ivf", "n_cells": n_cells, "overlap": overlap}
    )


def _probe_sample(emb: DataFrame, salt: str, n: int, *cols: str) -> list:
    """The ``n`` rows ``(vec_id, *cols, hp)`` of ``emb`` with the lowest
    ``hp`` = md5(salt || vec_id) prefix (ties by vec_id), collected: a
    content-addressed bottom-n probe sample — bounded at any corpus size
    and a pure function of the ids, so reruns and the oracle pick the
    same probes."""
    return (
        emb.select(
            "vec_id",
            *cols,
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))),
                1,
                12,
            ).alias("hp"),
        )
        .orderBy(F.col("hp").asc(), F.col("vec_id").asc())
        .limit(n)
        .collect()
    )


def recall_leg(
    corp: DataFrame,
    cents: DataFrame,
    alias: str,
    *,
    n_probe: int = 4,
    n_probes: int = 16,
    k: int = 10,
    salt: str = "annd:",
) -> DataFrame:
    """One drift-monitor leg as a 1-row DataFrame: recall@k (integer
    basis points) of the n_probe-cell approximate search under ``cents``
    against the brute-force truth, over ``n_probes`` content-addressed
    probes (md5-KMV bottom sample — deterministic, engine-stable). The
    SHARED definition behind q_ann_drift's two legs and the
    :func:`maintain_ivf_layout` rebuild loop, so the monitor and the
    remediation measure staleness with identical machinery."""
    probe_ids = [r["vec_id"] for r in _probe_sample(corp, salt, n_probes)]
    probes = _probe_batch(corp, probe_ids, "vec_id", "embedding")
    approx = _ivf_batch(
        corp, cents, probes, k, n_probe, "vec_id", "embedding"
    ).select(F.col("probe_id").alias("a_pid"), F.col("vec_id").alias("a_vid"))
    exact = brute_force_topk_batch(corp, probe_ids, k=k).select(
        "probe_id", "vec_id"
    )
    return exact.join(
        F.broadcast(approx),
        (F.col("probe_id") == F.col("a_pid"))
        & (F.col("vec_id") == F.col("a_vid")),
        "left",
    ).agg(
        F.expr("CAST(count(a_vid) * 10000 DIV count(*) AS BIGINT)").alias(
            alias
        )
    )


def maintain_ivf_layout(
    emb: DataFrame,
    layout_dir: str,
    *,
    n_cells: int = 16,
    overlap: int = 1,
    n_probe: int = 4,
    n_probes: int = 16,
    thresh_bp: int = 500,
) -> dict:
    """The build→monitor→rebuild→verify loop a 100 TB ANN serving layer
    actually runs (round-10 verdict item 3 — q_ann_drift reports
    ``rebuild=true``; this acts on it):

    - no committed layout (or a config mismatch) → BUILD version 1 on
      the current corpus and record its build-time recall in the marker;
    - committed layout → re-measure recall of the FROZEN persisted
      centroids on the CURRENT corpus with the monitor's own machinery
      (:func:`recall_leg`); if build-time recall − current recall >
      ``thresh_bp``, REBUILD on the current corpus with a version-bumped
      marker (the tokenizer store's version discipline: serves pinned to
      the old version refuse via :func:`layout_current`) and record the
      new build-time recall — the recovery the caller verifies.

    Returns {"version", "build_recall_bp", "now_recall_bp", "drift_bp",
    "rebuilt", "new_recall_bp"}. Crash-safety: the marker is removed
    before any rebuild overwrite begins (invalidate-first), so a
    half-rebuilt layout reads as config-unknown and is refused, never
    served stale.

    Scale: the monitor legs are bounded — n_probes brute-force probes
    over the monitored sample (run it over a uniform sample of the
    corpus at 100 TB, drift is a distribution property); the rebuild is
    the one corpus-sized pass (assign + partitioned rewrite), priced in
    SCALE.md's ×10 probe.
    """
    spark = emb.sparkSession

    def measure() -> int:
        cents = F.broadcast(spark.read.parquet(f"{layout_dir}/centroids"))
        leg = recall_leg(emb, cents, "bp", n_probe=n_probe, n_probes=n_probes)
        return int(leg.first()["bp"])

    return _maintain_layout(
        layout_dir,
        {"family": "ivf", "n_cells": n_cells, "overlap": overlap},
        lambda: build_ivf_layout(emb, layout_dir, n_cells=n_cells, overlap=overlap),
        measure,
        thresh_bp,
    )


def _maintain_layout(layout_dir: str, want: dict, build, measure, thresh_bp: int) -> dict:
    """The build→monitor→rebuild loop behind :func:`maintain_ivf_layout`
    and :func:`maintain_ivfpq_layout`. ``build()`` (re)writes the layout
    data, ``measure()`` returns the recall of what is on disk now in basis
    points, ``want`` is the config the marker must match.

    A marker that is missing or names another config → build version 1.
    Otherwise drift = the marker's build_recall_bp − measure(); drift
    ≤ thresh_bp returns without touching the layout, a larger drift
    rebuilds at version + 1. After every build the marker is rewritten
    with the version and the freshly measured recall (the build itself
    already landed a config-only marker after its data, so the data is
    complete at both writes)."""
    meta = read_layout_meta(layout_dir)
    if meta and all(meta.get(k) == v for k, v in want.items()):
        version = int(meta["version"])
        build_bp = int(meta["build_recall_bp"])
        now_bp = measure()
        drift = build_bp - now_bp
        if drift <= thresh_bp:
            return {
                "version": version,
                "build_recall_bp": build_bp,
                "now_recall_bp": now_bp,
                "drift_bp": drift,
                "rebuilt": False,
                "new_recall_bp": now_bp,
            }
        version += 1
    else:
        version, build_bp, now_bp, drift = 1, None, None, 0
    build()
    new_bp = measure()
    write_layout_meta(layout_dir, {**want, "version": version, "build_recall_bp": new_bp})
    return {
        "version": version,
        "build_recall_bp": new_bp if build_bp is None else build_bp,
        "now_recall_bp": new_bp if now_bp is None else now_bp,
        "drift_bp": drift,
        "rebuilt": True,
        "new_recall_bp": new_bp,
    }


def ivf_append(
    emb: DataFrame,
    layout_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to an existing :func:`build_ivf_layout` directory
    — the incremental-maintenance half of the IVF story (the ANN analogue
    of dedup's persisted MinHash index).

    Cell assignment depends ONLY on the persisted centroid table, so
    append ∪ original is IDENTICAL to a full rebuild with the same
    centroids: probes see new vectors immediately, partition pruning is
    untouched (new rows land in existing ``cell=`` partitions), and the
    corpus is never re-read. Centroids are deliberately NOT updated —
    IVF recall degrades only as the data distribution drifts away from
    the centroid sample; `q_eval_ann_recall` is the monitor and a layout
    rebuild the (rare, offline) remedy. At 100 TB: per-day cost is one
    broadcast-assign map pass over the delta plus an append write.
    """
    spark = emb.sparkSession
    cents = spark.read.parquet(f"{layout_dir}/centroids")
    # appends inherit the layout's assignment multiplicity from its
    # marker — appending single-assigned rows into an overlap=2 layout
    # would silently halve the new vectors' reachability
    overlap = read_layout_meta(layout_dir).get("overlap", 1)
    _assign_cells(emb, cents, id_col, vec_col, overlap=overlap).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{layout_dir}/vectors")


def ivf_topk_from_layout(
    spark,
    layout_dir: str,
    probe_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe a build_ivf_layout directory: pick the n_probe cells whose
    centroid is nearest the probe vector (driver-side over the tiny
    centroid table), then scan ONLY those `cell=` partitions — the cell
    filter is a partition filter, verified in tests/test_operators.py."""
    pv = F.array(*[F.lit(float(x)) for x in probe_vec])
    # cell pick + overlap from the MEMOIZED serve state (one centroid
    # read per layout version, not per call; _py_dot replicates the
    # Spark dot bit-for-bit). Partition values are strings (the engine
    # disables partition type inference) so the IN stays a partition
    # filter.
    st = layout_serve_state(spark, layout_dir, parts=("centroids",))
    cells = _pick_cells(st["centroids"], probe_vec, n_probe)
    scan = spark.read.parquet(f"{layout_dir}/vectors").filter(F.col("cell").isin(cells))
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    if st["meta"].get("overlap", 1) > 1:
        # multi-assignment layout: a vector indexed in two probed cells
        # is ONE candidate — dedup by id before scoring (rows differ only
        # in cell/ark; the vector payload is identical)
        scan = scan.dropDuplicates([id_col])
    return _sim_topk(scan, pv, k, id_col, vec_col)


def pq_codes(
    emb: DataFrame,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """PQ encode: returns ``(codes, codebook, rng)`` —

    - codes:    (id, sub, cid) — each vector's nearest codebook centroid
                per subspace (2 subspaces), integer-exact argmin over SQ8
                components with cid tiebreak.
    - codebook: (cid, pos, cqv, sub) — the first ``n_codes`` vectors by
                id as deterministic centroids (a real system k-means
                trains these; the ENCODE/SERVE dataflow is identical).
    - rng:      (pos, mn, mx) — the per-dimension SQ8 ranges, needed to
                quantize future probe vectors IDENTICALLY at serve time.

    Scale: codebook is n_codes×DIM rows → broadcast; the distance agg is
    keyed (vector, sub, cid) and partial-combines map-side; argmin is a
    min(struct) aggregate — no window over corpus-sized data.

    The quantize, split and argmin steps are the builders q_embed_pq and
    q_sim_topk_pq call too (_sq8_dims, _pq_split, _pq_argmin); this
    encode adds the fan_out of its input.
    """
    # fan_out BEFORE the explode: the (vec, pos) expansion and everything
    # downstream (range agg, the DIM×n_codes distance pipeline) otherwise
    # run at the scan's parallelism — one small parquet file serializes
    # the whole encode on a single core. No-op on an already-wide scan.
    # (A map-only rewrite — codebook collected and inlined as literals,
    # distances as array-HOF folds — measured SLOWER (2.9s vs 2.0s at
    # sf0.1 for the codes alone) despite removing the argmin shuffle:
    # higher-order functions evaluate interpreted per element, while this
    # explode+join pipeline stays in whole-stage codegen. Keep the
    # codegen'd join; buy parallelism with fan_out.)
    qv, rng = _sq8_dims(fan_out(emb.select(id_col, vec_col)), id_col, vec_col)
    qs, codebook = _pq_split(qv, emb, n_codes, id_col, vec_col)
    codes = _pq_argmin(qs, codebook, id_col).select(
        id_col, "sub", F.col("b.cid").alias("cid")
    )
    return codes, codebook, rng


def _sq8(val):
    """The engine-stable SQ8 bucket function (floor, clamp-high) given a
    double component and in-scope ``mn``/``mx`` columns. It is the only
    definition: corpus quantization (_sq8_dims) and probe quantization
    (the ivfpq serves) both call it; _py_adc replicates it driver-side."""
    return (
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.floor(
                    (val - F.col("mn")) * F.lit(256.0) / (F.col("mx") - F.col("mn"))
                ),
            )
        )
        .cast("int")
    )


def _sq8_dims(
    emb: DataFrame, id_col: str, vec_col: str, rng: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """``(qv, rng)``: every component of every vector as (id, pos, qv)
    SQ8-bucketed under the per-dimension (pos, mn, mx) ranges ``rng`` —
    derived from ``emb`` itself (a DIM-row aggregate, broadcast back)
    unless a frozen ``rng`` is given."""
    dims = emb.select(id_col, F.posexplode(vec_col).alias("pos", "val")).select(
        id_col, "pos", F.col("val").cast("double").alias("val")
    )
    if rng is None:
        rng = dims.groupBy("pos").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    qv = dims.join(F.broadcast(rng), "pos").select(
        id_col, "pos", _sq8(F.col("val")).alias("qv")
    )
    return qv, rng


def _pq_split(
    qv: DataFrame, emb: DataFrame, n_codes: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(qs, codebook)``: the quantized components with their subspace
    ``sub`` (1 from half the dimension of ``emb`` on), and the first
    ``n_codes`` vectors by id as the codebook (cid, pos, cqv, sub)."""
    half = emb.select(F.floor(F.size(vec_col) / 2).cast("int").alias("h")).first()["h"]
    qs = qv.withColumn("sub", (F.col("pos") >= half).cast("int"))
    codebook = qs.filter(F.col(id_col) < n_codes).select(
        F.col(id_col).alias("cid"), "pos", F.col("qv").alias("cqv"), "sub"
    )
    return qs, codebook


def _pq_argmin(qv: DataFrame, codebook: DataFrame, id_col: str) -> DataFrame:
    """(id, sub, b): per vector and subspace, ``b`` = min(struct(dist,
    cid)) over the codebook — the integer squared distance to the nearest
    centroid, lowest cid on ties. ``sub`` comes from ``qv`` when it
    carries one, else from the codebook rows (pos-determined, so the
    same)."""
    if "sub" in qv.columns:
        codebook = codebook.drop("sub")
    diff = F.col("qv") - F.col("cqv")
    dist = (
        qv.join(F.broadcast(codebook), "pos")
        .groupBy(id_col, "sub", "cid")
        .agg(F.sum((diff * diff).cast("bigint")).alias("dist"))
    )
    return dist.groupBy(id_col, "sub").agg(F.min(F.struct("dist", "cid")).alias("b"))


def _adc_table(
    probes: DataFrame, vec_col: str, rng: DataFrame, codebook: DataFrame, *keys
) -> DataFrame:
    """(*keys, sub, cid, pd): each probe SQ8-quantized under ``rng``, and
    its integer squared distance to every codebook centroid per subspace
    — the ADC lookup table the codes are scored with."""
    pqv = (
        probes.select(*keys, F.posexplode(vec_col).alias("pos", "val"))
        .select(*keys, "pos", F.col("val").cast("double").alias("val"))
        .join(F.broadcast(rng), "pos")
        .select(*keys, "pos", _sq8(F.col("val")).alias("pqv"))
    )
    pdiff = F.col("pqv") - F.col("cqv")
    return (
        codebook.join(F.broadcast(pqv), "pos")
        .groupBy(*keys, "sub", "cid")
        .agg(F.sum((pdiff * pdiff).cast("bigint")).alias("pd"))
    )


def build_ivfpq_layout(
    emb: DataFrame,
    out_dir: str,
    n_cells: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF × PQ composed into ONE serving layout: the coarse IVF cell
    becomes the parquet partition key and the payload inside each
    partition is the PQ CODE TABLE, not the fp32 vectors.

    Directory contents:
      codes/cell=N/…   (id, sub, cid) — 2 small ints per vector
      centroids/        (cell, cvec)  — coarse quantizer, broadcast-sized
      codebook/         (cid, pos, cqv, sub) + rng/ (pos, mn, mx)

    Why this is THE 100 TB ANN serving shape (IVF-PQ, Jégou et al. 2011):
    a probe prunes to n_probe/n_cells of the corpus via PARTITION pruning
    (no index service — the directory layout is the index), then scores
    only integer codes via a broadcast ADC lookup table — the fp32 corpus
    (the 100 TB part) is never read at serve time at all. A 768-dim fp32
    corpus serves from codes ~1500× smaller.
    """
    invalidate_layout_meta(out_dir)
    cents = _centroids(emb, n_cells, id_col, vec_col)
    assigned = _assign_cells(emb, F.broadcast(cents), id_col, vec_col)
    codes, codebook, rng = pq_codes(emb, n_codes, id_col, vec_col)
    _overlap_write_jobs(
        lambda: codes.join(assigned.select(id_col, "cell"), id_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{out_dir}/codes"),
        lambda: cents.write.mode("overwrite").parquet(f"{out_dir}/centroids"),
        lambda: codebook.write.mode("overwrite").parquet(f"{out_dir}/codebook"),
        lambda: rng.write.mode("overwrite").parquet(f"{out_dir}/rng"),
    )
    write_layout_meta(
        out_dir, {"family": "ivfpq", "n_cells": n_cells, "n_codes": n_codes}
    )


def ivfpq_sample_recall_bp(
    spark,
    emb: DataFrame,
    layout_dir: str,
    *,
    n_probe: int = 4,
    n_probes: int = 16,
    k: int = 10,
    refine: int = 0,
    salt: str = "annd:",
) -> int:
    """recall@k (integer basis points) of a built IVFPQ layout against
    brute-force truth over ``n_probes`` content-addressed probes from the
    CURRENT corpus — the IVFPQ monitor leg. Both quantizers are frozen in
    the layout, so this measures the COMPOSED staleness (coarse cells AND
    codebook drift). ``refine > 0`` measures the two-stage operating
    point instead (ADC shortlist of that size + exact re-rank)."""
    probe_rows = _probe_sample(emb, salt, n_probes, "embedding")
    probe_ids = [r["vec_id"] for r in probe_rows]
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in brute_force_topk_batch(emb, probe_ids, k=k).collect()
    }
    hits = 0
    for r in probe_rows:
        pv = [float(x) for x in r["embedding"]]
        if refine > 0:
            got = ivfpq_topk_refined_from_layout(
                spark,
                layout_dir,
                emb,
                pv,
                k=k,
                shortlist=refine,
                n_probe=n_probe,
                exclude_id=r["vec_id"],
            )
        else:
            got = ivfpq_topk_from_layout(
                spark,
                layout_dir,
                pv,
                k=k,
                n_probe=n_probe,
                exclude_id=r["vec_id"],
            )
        hits += sum(
            (r["vec_id"], g["vec_id"]) in exact for g in got.collect()
        )
    return hits * 10000 // (len(probe_ids) * k)


def maintain_ivfpq_layout(
    emb: DataFrame,
    layout_dir: str,
    *,
    n_cells: int = 16,
    n_codes: int = 16,
    n_probe: int = 4,
    n_probes: int = 16,
    refine: int = 0,
    thresh_bp: int = 500,
) -> dict:
    """:func:`maintain_ivf_layout`'s loop (_maintain_layout) for the IVFPQ
    family — the layout that actually serves at 100 TB, where staleness
    has TWO frozen halves (coarse cells scattering appends, and SQ8 ranges
    / codebook centroids mis-quantizing a shifted distribution;
    ivfpq_append freezes both by design). Same contract: build v1 and record build-time
    recall; re-measure the frozen layout on the current corpus; rebuild
    version-bumped when drift > thresh_bp; invalidate-first crash safety
    throughout. Monitor cost is n_probes bounded serves + one truth scan;
    the rebuild is the corpus-sized encode+rewrite."""
    return _maintain_layout(
        layout_dir,
        {"family": "ivfpq", "n_cells": n_cells, "n_codes": n_codes},
        lambda: build_ivfpq_layout(emb, layout_dir, n_cells=n_cells, n_codes=n_codes),
        lambda: ivfpq_sample_recall_bp(
            emb.sparkSession,
            emb,
            layout_dir,
            n_probe=n_probe,
            n_probes=n_probes,
            refine=refine,
        ),
        thresh_bp,
    )


def pq_encode_frozen(
    emb: DataFrame,
    codebook: DataFrame,
    rng: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode vectors against a FROZEN quantizer pair (codebook + SQ8
    ranges) instead of deriving them from the input — the encode half of
    incremental layout maintenance. It runs :func:`pq_codes`' own quantize
    and argmin builders (_sq8_dims under the frozen rng, _pq_argmin), with
    sub taken from the codebook rows (pos-determined, so identical to the
    vector-side derivation). Returns (id, sub, cid)."""
    qv, _ = _sq8_dims(fan_out(emb.select(id_col, vec_col)), id_col, vec_col, rng)
    return _pq_argmin(qv, codebook, id_col).select(
        id_col, "sub", F.col("b.cid").alias("cid")
    )


def ivfpq_append(
    emb: DataFrame,
    layout_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a :func:`build_ivfpq_layout` directory —
    :func:`ivf_append` lifted to the PQ layout (the daily-embedding-drop
    serving story).

    Everything the encode depends on is FROZEN in the layout: cell
    assignment uses the persisted centroids, SQ8 quantization the
    persisted rng, code assignment the persisted codebook — so
    append ∪ original is IDENTICAL to re-encoding the full corpus with
    the same quantizers (pinned in tests/test_operators.py; the
    incremental key's oracle recomputes exactly that). New code rows land
    in existing ``cell=`` partitions, so serve-time partition pruning and
    the broadcast-ADC plan are untouched. Quantizers are deliberately NOT
    refit — codebook drift is the monitored failure mode
    (q_eval_ann_recall_pq), a layout rebuild the rare offline remedy. At
    100 TB: per-day cost is one broadcast-quantize map pass over the
    delta + an append write of 2 small ints per vector; the historical
    code table (let alone the fp32 corpus) is never re-read."""
    spark = emb.sparkSession
    cents = spark.read.parquet(f"{layout_dir}/centroids")
    codebook = spark.read.parquet(f"{layout_dir}/codebook")
    rng = spark.read.parquet(f"{layout_dir}/rng")
    assigned = _assign_cells(emb, F.broadcast(cents), id_col, vec_col)
    codes = pq_encode_frozen(emb, codebook, rng, id_col, vec_col)
    codes.join(assigned.select(id_col, "cell"), id_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{layout_dir}/codes")


def ivfpq_topk_from_layout(
    spark,
    layout_dir: str,
    probe_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Serve a :func:`build_ivfpq_layout` directory: n_probe cells by
    centroid dot product (driver-side over the tiny centroid table, like
    ivf_topk_from_layout) → `cell IN (…)` PARTITION-pruned scan of the
    code table → integer ADC: the probe is SQ8-quantized with the
    layout's persisted ranges, its squared distance to every codebook
    centroid per subspace is a (sub, cid)-keyed lookup table (n_codes×2
    rows, broadcast), and each candidate's distance is the 2-term sum of
    lookups — asymmetric distance computation, no fp32 vector is read.

    Returns (id, pq_dist) ascending — integer-exact, so the ranking is
    engine-reproducible and oracle-checkable end to end."""
    # cell pick AND the integer ADC lookup table from the MEMOIZED serve
    # state: centroids/rng/codebook are model-sized and frozen per layout
    # version, so the four per-call parquet reads + the cell-pick job +
    # the adc join/agg job all collapse to driver arithmetic over cached
    # rows (_py_dot / _py_adc replicate the Spark expressions exactly —
    # float ops in identical order, the rest pure ints). Only the codes
    # scan below touches the cluster.
    st = layout_serve_state(
        spark, layout_dir, parts=("centroids", "rng", "codebook")
    )
    cells = _pick_cells(st["centroids"], probe_vec, n_probe)
    adcm = _adc_map_expr(_py_adc(st["codebook"], st["rng"], probe_vec))
    scan = _codes_df(spark, layout_dir, st).filter(F.col("cell").isin(cells))
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    return (
        scan.select(
            F.col(id_col),
            F.element_at(
                adcm,
                (F.col("sub").cast("bigint") * 1_000_000 + F.col("cid")).cast(
                    "bigint"
                ),
            ).alias("pd"),
        )
        .groupBy(id_col)
        .agg(F.sum("pd").alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk_refined_from_layout(
    spark,
    layout_dir: str,
    emb: DataFrame,
    probe_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Two-stage serving: lossy IVF×PQ ADC shortlist (k′ = ``shortlist``)
    → EXACT fp32 re-rank of only those k′ ids — the standard
    lossy-then-exact ANN pattern (Jégou et al. 2011 §V: re-ranking with
    source coding refines ADC's quantization error at the cost of reading
    k′ true vectors).

    The shortlist ids are collected driver-side (k′ rows — a bounded
    driver pick, same discipline as the n_probe cell pick) and pushed into
    the embedding scan as an ``IN`` filter, so the re-rank reads ONLY the
    k′ fp32 vectors (PushedFilters, asserted in tests/test_plans.py) —
    never the full embedding corpus. At 100 TB the stage-2 read is k′
    point lookups into the vector store; stage 1 still reads only
    n_probe/n_cells of the ~1500×-smaller code table.

    Returns (id, sim) by exact 4dp cosine desc, id asc — engine-exact."""
    ids = [
        r[id_col]
        for r in ivfpq_topk_from_layout(
            spark,
            layout_dir,
            probe_vec,
            k=shortlist,
            n_probe=n_probe,
            id_col=id_col,
            exclude_id=exclude_id,
        )
        .select(id_col)
        .collect()
    ]
    pv = F.array(*[F.lit(float(x)) for x in probe_vec])
    return _sim_topk(emb.filter(F.col(id_col).isin(ids)), pv, k, id_col, vec_col)


def ivfpq_topk_batch_from_layout(
    spark,
    layout_dir: str,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve MANY probes against a :func:`build_ivfpq_layout` directory in
    one pass — the micro-batch/serving-tier shape of
    :func:`ivfpq_topk_from_layout`.

    All probe-side relations (cells-per-probe, quantized probe components,
    the per-probe ADC tables) are batch-sized and broadcast; the ONE
    corpus-sized relation read is the code table, partition-pruned to the
    UNION of every probe's n_probe cells, and each code row fans out only
    to the probes that probed its cell (join on cell). Returns
    (probe_id, id, pq_dist, rk ≤ k), ranked (pq_dist asc, id asc) —
    integer-exact, so per-probe results are identical to the single-probe
    path (pinned in tests/test_streaming.py)."""
    pr = _probe_rows(probes, id_col, vec_col)
    cents = spark.read.parquet(f"{layout_dir}/centroids")
    cells = _probe_cells(cents, F.broadcast(pr), n_probe).select("probe_id", "cell")
    cell_list = [str(r["cell"]) for r in cells.select("cell").distinct().collect()]
    rng = spark.read.parquet(f"{layout_dir}/rng")
    codebook = spark.read.parquet(f"{layout_dir}/codebook")
    adc = _adc_table(pr, "__probe", rng, codebook, "probe_id")
    scan = spark.read.parquet(f"{layout_dir}/codes").filter(
        F.col("cell").isin(cell_list)
    )
    scored = scan.join(F.broadcast(cells), "cell").join(
        F.broadcast(adc), ["probe_id", "sub", "cid"]
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("probe_id"))
    return _probe_topk(
        scored.groupBy("probe_id", id_col).agg(F.sum("pd").alias("pq_dist")),
        k,
        id_col,
        by=F.col("pq_dist").asc(),
    )


def ivfpq_topk_batch_refined_from_layout(
    spark,
    layout_dir: str,
    probes: DataFrame,
    emb: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Two-stage serving for a PROBE BATCH —
    :func:`ivfpq_topk_refined_from_layout` lifted to the micro-batch
    shape: one cell-pruned ADC pass produces every probe's k′ shortlist,
    then ONE exact re-rank pass reads only the UNION of all shortlisted
    fp32 vectors (collected ids → IN-pushdown scan, ≤ k′·|batch| point
    lookups regardless of corpus size) and ranks per probe through a
    WindowGroupLimit. Per-probe results are identical to the
    single-probe refine path (pinned in tests/test_operators.py).

    Returns (probe_id, id, sim, rk ≤ k) by exact 4dp cosine desc, id asc.
    """
    short = ivfpq_topk_batch_from_layout(
        spark,
        layout_dir,
        probes,
        k=shortlist,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
    ).select("probe_id", id_col)
    pairs = short.collect()  # ≤ shortlist·|batch| rows — bounded pick
    ids = sorted({r[id_col] for r in pairs})
    pair_df = F.broadcast(
        spark.createDataFrame(
            [(r["probe_id"], r[id_col]) for r in pairs],
            f"probe_id long, {id_col} long",
        )
    )
    pr = F.broadcast(_probe_rows(probes, id_col, vec_col))
    fetched = emb.filter(F.col(id_col).isin(ids)).select(id_col, vec_col)
    scored = fetched.join(pair_df, id_col).join(pr, "probe_id")
    return _probe_topk(
        scored.select("probe_id", F.col(id_col), _sim(vec_col, F.col("__probe"))),
        k,
        id_col,
    )


def pairwise_cosine(
    emb: DataFrame,
    block_col: str,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (id1 < id2) cosine pairs within a blocking key (label, LSH bucket,
    …). Blocking is what keeps this linear-ish at scale — never call with a
    constant block over a large table.

    Norms are computed once per VECTOR on each join input, not once per
    pair — with block size m that is 2·m interpreted-HOF folds instead of
    2·m²; the per-pair expression is the dot product alone. The quotient
    dot/(n1·n2) is arithmetically the very sequence cosine() evaluates, so
    results (and the 4dp-rounded oracle hash) are bit-identical."""
    # stream side fanned out so the quadratic pair loop parallelizes even
    # when the source is one small file (operators/parallel.py)
    a = fan_out(emb).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        norm(F.col(vec_col)).alias("n1"),
    )
    b = emb.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        norm(F.col(vec_col)).alias("n2"),
    )
    pairs = a.join(b, "blk").filter(F.col("id1") < F.col("id2")).withColumn(
        "sim",
        F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 4),
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("sim") >= threshold)
    return pairs.select("blk", "id1", "id2", "sim")


def range_search(
    emb: DataFrame,
    probe_id: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vectors with cosine >= tau to the probe (the radius-query dual
    of top-k: dedup thresholds, recall sweeps, near-neighbor audits).

    Same one-scan broadcast shape as brute_force_topk, but the selection
    is a FILTER, not a sort+limit - no TakeOrdered heap, no ordering
    shuffle at all; the output is whatever each partition keeps. At
    100 TB the scan is embarrassingly parallel and the result size is
    data-dependent - cap with a downstream limit if tau is loose. The
    filter compares the ROUNDED sim so the boundary row set is engine-
    stable.
    """
    probe = F.broadcast(_probe_df(emb, probe_id, id_col, vec_col))
    return (
        emb.filter(F.col(id_col) != probe_id)
        .crossJoin(probe)
        .select(F.col(id_col), _sim(vec_col, F.col("__probe")))
        .filter(F.col("sim") >= tau)
    )


def linear_score(
    emb: DataFrame,
    weights: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast-free linear-model scoring: sigmoid(w . x) per vector.

    The model-based quality-classifier step of a curation pipeline
    (fastText/logreg-shaped): the weight vector folds into the plan as an
    array LITERAL - no join, no broadcast variable, no Python - so scoring
    a 100 TB embedding column is a map-only codegen'd pass at scan speed.
    Swap in refreshed weights by rebuilding the plan; for per-label model
    zoos, join a small model table and dot against the joined weights
    instead.
    """
    from mongo_to_parquet_spark.functions.vector import dot

    w = F.array(*[F.lit(float(x)) for x in weights])
    score = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-dot(F.col(vec_col).cast("array<double>"), w))
    )
    return emb.select(F.col(id_col), F.round(score, 4).alias("score"))


def sq8_dims(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, pos, qv): int8 scalar quantization of every vector component.

    Per-DIMENSION global [min, max] ranges (a DIM-row aggregate, broadcast
    back), components bucketed by ``floor((v − mn)·256/(mx − mn))`` clamped
    to 255 — floor, not round, so the bucket function is bit-identical
    across engines. The 4× compression pass an ANN corpus runs before
    IVF/PQ coding; downstream integer arithmetic (see q_embed_pq) is
    exactly reproducible. Constant-range dimensions quantize to 0.
    """
    return _sq8_dims(emb, id_col, vec_col)[0]


def hard_negatives(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining (retrieval/contrastive training prep): for
    each probe, the k most-similar corpus vectors whose LABEL differs —
    the near-misses a contrastive loss learns the most from (random
    negatives are trivially separable; these are not).

    Same physical shape as :func:`brute_force_topk_batch` — broadcast
    probe batch (with labels), ONE corpus scan scoring every (vector,
    probe) pair, label-mismatch filter BEFORE the rank window, per-probe
    top-k via WindowGroupLimit. The label filter composes with probe
    scoring map-side, so mining negatives for the whole training batch
    still costs one scan. At 100 TB the same mining runs per IVF cell
    (cell_assign + pruned probes) to avoid the full scan — identical
    downstream shape.
    """
    probes = _probe_batch(
        emb, probe_ids, id_col, vec_col, F.col(label_col).alias("__probe_label")
    )
    return _probe_topk(
        emb.crossJoin(probes)
        .filter(F.col(label_col) != F.col("__probe_label"))
        .select(
            "probe_id",
            F.col(id_col),
            F.col(label_col),
            _sim(vec_col, F.col("__probe")),
        ),
        k,
        id_col,
    )


# --------------------------------------------------------------------------
# Lloyd's k-means (iterative clustering on fixed-size state)
# --------------------------------------------------------------------------
#: squared-distance quantization: d2 = Σ ⌊(aᵢ−bᵢ)²·2⁴⁰⌋ as BIGINT.
#: Multiplying by a power of two only shifts the double's exponent (exact),
#: and FLOOR of an identical double is engine-stable — so the distance is
#: a cross-engine-identical INTEGER, safe to fold/sum in any order (a
#: DECIMAL fold would drift: Spark's decimal `+` re-derives precision to
#: (38,17), silently rounding each step). With unit-scale embeddings the
#: per-element term is < 2⁴², ×64 dims ≈ 2⁴⁸ — far from long overflow.
_D2_SCALE = float(1 << 40)


def _d2_fixed(x, cent):
    """Σ ⌊(xᵢ−cᵢ)²·2⁴⁰⌋ — integer-quantized squared L2, one pass over the
    zipped arrays, type-stable long fold."""
    return F.aggregate(
        F.zip_with(
            x, cent, lambda a, b: F.floor((a - b) * (a - b) * F.lit(_D2_SCALE))
        ),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )


def kmeans_assign_expr(x, cents: list):
    """struct(d: long, cid: int) — nearest centroid of ``cents``
    ([(cid, [float, ...]), ...]) for vector column ``x``, lowest-cid
    tiebreak.

    The centroid table is embedded as a LITERAL (k×d doubles — driver
    fixed-state, the same exception as IVF's collected centroid table),
    so assignment is a pure scan-side expression: NO join, NO shuffle.
    Each centroid's distance is computed exactly once — the d2 array is
    bound as a lambda VALUE via the single-element-array transform
    (SCALE.md "lambda VALUE" rule) before the argmin fold references it
    k times; strict `<` keeps the FIRST minimum, i.e. the lowest cid.
    """
    k = len(cents)
    cent_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in vec]) for _, vec in cents]
    )
    cids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    d2s = F.transform(cent_arr, lambda c: _d2_fixed(x, c))
    return F.transform(
        F.array(d2s),
        lambda ds: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.struct(
                F.lit(1 << 62).cast("long").alias("d"),
                F.lit(-1).cast("int").alias("cid"),
            ),
            lambda acc, i: F.when(
                F.element_at(ds, i + 1) < acc["d"],
                F.struct(
                    F.element_at(ds, i + 1).alias("d"),
                    F.element_at(cids, i + 1).alias("cid"),
                ),
            ).otherwise(acc),
        ),
    )[0]


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 4,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Lloyd's k-means, deterministic and oracle-exact: returns
    ``(assignments, centroids)`` where assignments is a DataFrame
    ``(id, x, cid, d2)`` under the FINAL centroids and centroids is the
    ``[(cid, [double, ...]), ...]`` list that produced it.

    Determinism (so a DuckDB oracle can replay it bit-for-bit):
    initialization is the k lowest-id vectors (cid = id rank); distances
    are the integer-quantized :func:`_d2_fixed`; centroid updates are
    exact DECIMAL(38,18) sums ÷ counts (order-free, the q_embed_pca
    convention). ``rounds`` counts ASSIGNMENT passes: rounds=2 →
    assign(init) → update → assign(updated). A cluster that loses all
    members simply drops out of the next centroid list (both engines
    agree structurally).

    ASSUMPTION: vectors are non-null with no null elements (a null
    element poisons the zip_with fold to a NULL distance, which `<`
    drops — the row would keep cid −1). Filter or impute upstream if
    the corpus can carry nulls; the fixtures cannot.

    Scale: the corpus-sized work per round is ONE map-only assignment
    pass (centroids ride the plan as a k×d literal — no join, no
    shuffle) plus ONE partial-combined (cid, pos) aggregate whose
    shuffle carries ≤ partitions × k×d rows; driver state per round is
    the k×d centroid table. Iteration cost is independent of corpus
    size beyond the two scans — the aggregate-to-fixed-state-first
    discipline (SCALE.md) applied to clustering. 100 TB practice: raise
    k and rounds freely; the only growing cost is the scans themselves.
    """
    vecs = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("x")
    )
    init = vecs.orderBy("id").limit(k).collect()
    cents = [(i, list(r["x"])) for i, r in enumerate(init)]
    assigned = None
    for r in range(rounds):
        best = kmeans_assign_expr(F.col("x"), cents)
        # bind `best` as a REAL attribute via a 1-element explode
        # (Generate) before extracting both fields: a plain
        # withColumn+select pair collapses into one projection that
        # inlines the whole argmin expression once per extracted field
        # (the minhash 3.4× lesson — lambda-heavy expressions defeat
        # codegen subexpression elimination)
        assigned = (
            vecs.select("id", "x", F.explode(F.array(best)).alias("b"))
            .select(
                "id", "x", F.col("b.cid").alias("cid"), F.col("b.d").alias("d2")
            )
        )
        if r < rounds - 1:
            rows = (
                assigned.select("cid", F.posexplode("x").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(
                    (
                        # scale 12, not 18: keeps the sum's unscaled decimal
                        # magnitude < 2^53 so BOTH engines' decimal->double
                        # conversions are exact (DuckDB divides unscaled/10^s
                        # in float — see queries/__init__ determinism rules)
                        F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("cval")
                )
                .collect()
            )
            by: dict = {}
            for row in rows:
                by.setdefault(row["cid"], {})[row["pos"]] = row["cval"]
            cents = [
                (cid, [by[cid][p] for p in sorted(by[cid])]) for cid in sorted(by)
            ]
    return assigned, cents
