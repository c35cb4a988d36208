"""Full-headline ×10 probe (round-7 verdict #6): run bench.py's ENTIRE
headline suite back-to-back at sf0.1 and at a ×10 replica of it, in ONE
session, and compare per-query wall time AND shuffle-byte deltas.

Per-key scaletest probes validate operators in isolation; this run
validates the COMPOSED suite — cross-query cache/GC interactions, heap
pressure from one query's spill landing on the next, accumulated JVM
state — the things per-key probes structurally cannot see.

The ×10 replica is tools/scaletest.py's (``materialize`` over every
table in its OFFSETS: disjoint key spaces via KEY_STRIDE offsets, with
``part`` offset so the TPC-H headline rows join replicated facts against
a matching catalog; documents get per-replica token PREFIXES so
near-dup/gram density stays constant — the lesson-15 invariant), shared
with scaletest's own ×10 probes under _scratch/scaletest/m10.

Protocol: one warmup pass of every key at sf0.001 (codegen/JIT), then
ONE timed pass per (key, scale) — single-rep because the deliverable is
the RATIO SHAPE per key (linear vs super-linear), not a steady-state
number; shuffle bytes are deterministic per run and contention-immune
(lesson 14), so they carry the verdict where wall clocks blur.

Usage: python tools/headline_scale.py [out_json]
Writes _scratch/headline_m10_results.json and prints a summary table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from mongo_to_parquet_spark import get_spark  # noqa: E402
from mongo_to_parquet_spark.queries import bench_only, queries  # noqa: E402
from scaletest import (  # noqa: E402  (tools/scaletest.py)
    BASE,
    OFFSETS,
    WARM,
    materialize,
    shuffle_bytes,
)

OUT = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "_scratch", "headline_m10")
)
MULT = 10


def main() -> None:
    out_json = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(os.path.dirname(OUT), "headline_m10_results.json")
    )
    # sampled BEFORE any Spark work: the end-of-run loadavg is always
    # ~14 after a 32-core m10 pass and says nothing about contention —
    # the round-11 probe was mistaken for "run on a loaded box" because
    # only the end sample was recorded
    loadavg_start = os.getloadavg()
    spark = get_spark("headline-scale")
    spark.sparkContext.setLogLevel("ERROR")
    from bench import HEADLINE  # noqa: E402  (repo-root bench.py)

    qs = {**queries(), **bench_only()}
    m10 = materialize(spark, MULT, list(OFFSETS))
    results: dict[str, dict] = {}
    for key in HEADLINE:
        qs[key](spark, WARM).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    # the *_apply_artifact keys' DECLARED semantics are serve-from-a-
    # warm-store; a cold store makes their one timed rep pay the whole
    # training pass. The round-10 probe ran against a driver-wiped
    # _scratch and recorded train+serve at m10 vs warm serve at sf0.1
    # (pca ×41, wordpiece ×13 — store-warmth asymmetry, not scale), so
    # the stores are now warmed explicitly AT EACH SCALE before timing —
    # deterministic protocol regardless of _scratch history.
    # ivfpq *serve* keys are ensure-then-serve like the artifact keys
    # (layout store under _scratch): without warming, their one timed
    # rep at a cold scale pays the whole layout BUILD — the round-11opt
    # probe recorded shuf ×2856 on q_sim_topk_ivfpq_serve for exactly
    # this reason (store-warmth asymmetry, not a plan property)
    serve_keys = [
        k for k in HEADLINE if "apply_artifact" in k or "_serve" in k
    ]
    for scale, d in (("sf01", BASE), ("m10", m10)):
        for key in serve_keys:
            qs[key](spark, d).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
    for scale, d in (("sf01", BASE), ("m10", m10)):
        for key in HEADLINE:
            s0 = shuffle_bytes(spark)
            t0 = time.perf_counter()
            qs[key](spark, d).write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 3)
            s1 = shuffle_bytes(spark)
            # null out the delta when either endpoint read failed so the
            # JSON never records a meaningless difference as a measurement
            sb = (s1 - s0) if (s0 is not None and s1 is not None) else None
            results.setdefault(key, {})[f"sec_{scale}"] = sec
            results[key][f"shuf_{scale}"] = sb
            spark.catalog.clearCache()
    # round-11 (verdict item 3): the drift loop's REBUILD is its one
    # corpus-sized pass (assign + partitioned rewrite + the recall
    # re-measure) — price it at both scales so SCALE.md records what a
    # rebuild-on-trip costs when the monitor fires at 100 TB
    from mongo_to_parquet_spark.operators.similarity import (  # noqa: E402
        maintain_ivf_layout,
    )
    from mongo_to_parquet_spark.sources.catalog import load_table  # noqa: E402

    for scale, d in (("sf01", BASE), ("m10", m10)):
        emb = load_table(spark, d, "embeddings")
        ldir = os.path.join(OUT, f"drift_layout_{scale}")
        shutil.rmtree(ldir, ignore_errors=True)
        s0 = shuffle_bytes(spark)
        t0 = time.perf_counter()
        rep = maintain_ivf_layout(emb, ldir, n_cells=16, n_probe=4, n_probes=16)
        sec = round(time.perf_counter() - t0, 3)
        s1 = shuffle_bytes(spark)
        sb = (s1 - s0) if (s0 is not None and s1 is not None) else None
        r = results.setdefault("maintain_ivf_rebuild", {})
        r[f"sec_{scale}"] = sec
        r[f"shuf_{scale}"] = sb
        r[f"recall_bp_{scale}"] = rep["build_recall_bp"]
        spark.catalog.clearCache()
    for key, r in results.items():
        r["ratio"] = round(r["sec_m10"] / max(r["sec_sf01"], 1e-9), 2)
        r["shuf_ratio"] = (
            round(r["shuf_m10"] / r["shuf_sf01"], 2)
            if r["shuf_m10"] is not None
            and r["shuf_sf01"] is not None
            and r["shuf_sf01"] > 0
            else None
        )
    with open(out_json, "w") as f:
        json.dump(
            {
                "mult": MULT,
                "total_sec_sf01": round(
                    sum(r["sec_sf01"] for r in results.values()), 1
                ),
                "total_sec_m10": round(
                    sum(r["sec_m10"] for r in results.values()), 1
                ),
                "loadavg_start": loadavg_start,
                "loadavg": os.getloadavg(),
                "queries": results,
            },
            f,
            indent=1,
        )
    print(f"wrote {out_json}")
    for key, r in sorted(results.items(), key=lambda kv: -kv[1]["ratio"]):
        print(
            f"{key:36s} {r['sec_sf01']:8.2f}s -> {r['sec_m10']:8.2f}s"
            f"  x{r['ratio']:<6} shuf x{r['shuf_ratio']}"
        )


if __name__ == "__main__":
    main()
