"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload {export,queries} \\
        --seed N --seconds S --trace {0,1}

One process, one Spark session on ``local[nproc]``, one client issuing ops
in sequence (closed loop). A run:

1. starts the session, generates the seeded inputs, wipes the run's
   ``_scratch`` stores and warms up with ``WARM_PASSES`` whole passes, the
   first of which trains into the wiped stores;
2. measures whole passes until ``--seconds`` have passed and at least
   ``MIN_PASSES`` untraced ones (traced runs: one) have run;
3. checks the outputs, untimed, in the state the measured passes left;
4. prints one JSON object as the last line of stdout.

With ``--trace 0`` it reports the end-to-end metrics (BENCHMARK.json).
With ``--trace 1`` traced passes alternate with untraced ones: the traced
passes give the per-layer metrics, the untraced ones the ``run.*`` metrics
(pass wall, op latency, CPU), and the pair gives the tracing overhead.
Either way the op latencies, pass walls and (traced) spans and counters are
written to ``.perfbench/<workload>-s<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")

#: untraced passes a run measures at least: run.wall_s is a median and each
#: key gives more than one latency sample. A traced run stops after one
#: untraced pass, which its run.* metrics and its overhead need
MIN_PASSES = 2
#: warm-up passes. The first trains the stores and runs cold. After one
#: warm-up pass, codegen and JIT still left the next pass up to 28% slower
#: than the one after it, on both workloads
WARM_PASSES = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session():
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from mongo_to_parquet_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ended(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from perfbench.proctree import descendants

    pids = descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and gw.proc is not None:  # a JVM this process launched
        try:
            gw.shutdown()
        except Py4JError:
            pass  # the JVM is ended below either way
        gw.proc.stdin.close()  # the JVM exits on EOF
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    # the Python workers are the JVM's children and end with it
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if _ended(pids, 20):
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    _ended(pids, 20)


def retained_mb(spark) -> float:
    """Memory the process tree holds after a full GC: the JVM's heap and
    non-heap in use, plus the resident memory of every other process
    (this Python process and the Python workers). Peak RSS is no use as a
    gate: G1 grows the heap by its pause-time goal, so identical runs peak
    anywhere between 2.2 and 4.2 GB."""
    from pyspark import SparkContext

    from perfbench.proctree import rss_mb

    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    java = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return java / 2**20 + rss_mb(skip=SparkContext._gateway.proc.pid)


def make_workload(name, spark, tracer, seed):
    from perfbench import workloads as W

    if name == "export":
        return W.ExportWorkload(name, spark, tracer, ROOT, WORK, seed)
    return W.QueryWorkload(name, spark, tracer, ROOT, WORK, seed)


def run(args) -> dict:
    from perfbench.proctree import PeakRss, cpu_seconds
    from perfbench.tracer import Tracer

    spark = start_session()
    try:
        session_s = time.perf_counter() - T0
        tracer = Tracer(spark)
        wl = make_workload(args.workload, spark, tracer, args.seed)
        ops = wl.ops()

        # --- set-up: inputs, store wipe, warm-up ---
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t
        # the first pass also trains into the wiped stores
        t = time.perf_counter()
        for w in range(WARM_PASSES):
            for label, _, fn in ops:
                fn(f"warm{w}:{label}")
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s
        log(f"set-up: session {session_s:.2f}s, inputs {gen_s:.2f}s, warm-up {warm_s:.2f}s")
        # after the warm-up, not the measured passes: their number varies
        # with the host's speed, and some keys leave blocks behind each pass
        retained = retained_mb(spark)

        if args.trace:
            tracer.warm_rest()

        # --- measurement: whole passes ---
        lat: list[float] = []
        walls = {True: [], False: []}
        cpus: list[float] = []
        attempts: dict[str, list[str]] = {}
        failed_ops: set[str] = set()
        op_layer: dict[str, str] = {}
        t_meas = time.perf_counter()
        rss = PeakRss()  # sampled in traced runs only: it takes time from this process
        with rss if args.trace else contextlib.nullcontext():
            i = 0
            while True:
                traced = bool(args.trace) and i % 2 == 0
                tracer.enabled = traced
                c0, p0 = cpu_seconds(), time.perf_counter()
                for label, layer, fn in ops:
                    op = f"{i}:{label}"
                    attempts.setdefault(label, []).append(op)
                    op_layer[op] = layer
                    t = time.perf_counter()
                    try:
                        fn(op)
                        if not traced:
                            lat.append(time.perf_counter() - t)
                    except Exception:
                        failed_ops.add(op)
                        log(f"op {op} failed:\n{traceback.format_exc()}")
                walls[traced].append(time.perf_counter() - p0)
                if not traced:
                    cpus.append(cpu_seconds() - c0)
                if traced:
                    for label, layer, fn in wl.traced_extras():
                        op_layer[f"{i}:{label}"] = layer
                        fn(f"{i}:{label}")
                tracer.enabled = False
                i += 1
                if (time.perf_counter() - t_meas >= args.seconds
                        and len(walls[False]) >= (1 if args.trace else MIN_PASSES)):
                    break

        # --- output checks, untimed ---
        t = time.perf_counter()
        bad = wl.check()
        log(f"checks {time.perf_counter() - t:.2f}s")
        all_ops = [op for ops_of_key in attempts.values() for op in ops_of_key]
        for what, err in bad.items():
            log(f"wrong output: {what}: {err}")
            # a wrong key fails each of its ops; a wrong export fails them all
            failed_ops.update(attempts.get(what, all_ops))
        result = {
            "correct": not failed_ops,
            "attempted": len(all_ops),
            "failed": len(failed_ops),
        }

        # untraced passes only; reported per layer, not gated (see README)
        run_m = {
            "run.wall_s": (statistics.median(walls[False]), "s"),
            "run.latency_p50_s": (statistics.median(lat), "s"),
            "run.cpu_s": (statistics.median(cpus), "CPU-s"),
        }
        log(f"{len(lat)} samples in {i} passes; "
            + ", ".join(f"{k} {v:.3f}" for k, (v, _) in run_m.items()))
        info = {"workload": args.workload, "seed": args.seed, "latencies": lat,
                "walls_untraced": walls[False], "walls_traced": walls[True],
                "cpus_untraced": cpus}
        if not args.trace:
            result["metrics"] = {
                "setup_s": (setup_s, "s"),
                "retained_mb": (retained, "MB"),
            }
        else:
            result["metrics"] = layer_metrics(wl, tracer, op_layer, walls, session_s, gen_s, warm_s)
            result["metrics"].update(run_m)
            result["metrics"]["process.peak_rss_mb"] = (rss.peak, "MB")
        result["metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
        }
        tracer.dump(os.path.join(WORK, f"{args.workload}-s{args.seed}-trace{args.trace}.json"),
                    {**info, "result": result})
        wl.cleanup()
        return result
    finally:
        stop_session(spark)


def layer_metrics(wl, tracer, op_layer, walls, session_s, gen_s, warm_s):
    """Per-layer metrics, each per traced pass; a layer the workload does
    not reach reads 0."""
    from perfbench.tracer import COUNTERS
    from perfbench.workloads import QUERY_MIX

    n = len(walls[True])
    span_total: dict[str, float] = {}
    for s in tracer.spans:
        span_total[s["name"]] = span_total.get(s["name"], 0.0) + s["end"] - s["start"]

    def span(name):
        return span_total.get(name, 0.0) / n

    def counter(layer, c):
        vals = [tracer.counters[op][c] for op, lyr in op_layer.items()
                if lyr == layer and op in tracer.counters]
        return None if None in vals else sum(vals) / n

    def rate(count, seconds):
        return count / seconds if seconds else 0.0

    units = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
             "spill_bytes": "bytes", "executor_cpu_s": "CPU-s", "gc_s": "s"}
    fig = wl.figures()
    scan_s, job_s = span("sources.extjson.scan"), span("sources.mongo.job")
    m = {
        "session.start_s": (session_s, "s"),
        "setup.generate_s": (gen_s, "s"),
        "setup.warm_s": (warm_s, "s"),
        "sources.extjson.infer_schema_s": (span("sources.extjson.infer"), "s"),
        "sources.extjson.scan_s": (scan_s, "s"),
        "sources.extjson.scan_docs_per_s": (rate(fig.get("docs_scanned", 0), scan_s), "docs/s"),
        "sources.export.write_s": (span("sources.export.write"), "s"),
        "sources.export.files": (fig.get("files", 0), "count"),
        "sources.export.bytes": (fig.get("bytes", 0), "bytes"),
        "sources.export.out_bytes_per_in_byte": (fig.get("out_bytes_per_in_byte", 0.0), "ratio"),
        "sources.export.rows_unknown_year": (fig.get("rows_unknown_year", 0), "count"),
        "sources.mongo.job_s": (job_s, "s"),
        "sources.mongo.docs_per_s": (rate(fig.get("docs_written", 0), job_s), "docs/s"),
    }
    for c in ("jobs", "tasks", "executor_cpu_s", "gc_s"):
        m[f"sources.mongo.{c}"] = (counter("sources.mongo", c), units[c])
    for module in QUERY_MIX:
        layer = f"queries.{module}"
        for phase in ("build", "plan", "exec"):
            m[f"{layer}.{phase}_s"] = (span(f"{layer}.{phase}"), "s")
        for c in COUNTERS:
            m[f"{layer}.{c}"] = (counter(layer, c), units[c])
    m["queries.leftover_blocks"] = (fig.get("leftover_blocks", 0) / n, "count")
    traced, untraced = statistics.median(walls[True]), statistics.median(walls[False])
    m["trace.wall_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=("export", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mongo_to_parquet_spark", "__init__.py")):
        log("run from the root of a checkout that holds mongo_to_parquet_spark/")
        return 2
    # import the checkout's packages, never a module beside this script
    sys.path[0] = ROOT
    os.makedirs(WORK, exist_ok=True)
    result = run(args)
    log(f"done in {time.perf_counter() - T0:.2f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
