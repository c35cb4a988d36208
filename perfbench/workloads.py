"""The benchmark's workloads: what one pass runs, how inputs are made and
how outputs are checked.

Every workload is a closed loop with one client: ops are issued in
sequence, each after the previous one returned. An op on ``queries`` is one
registry key, built and then run to the ``noop`` sink; an op on ``export``
is one ``ExportJob`` run over the dump.
"""

from __future__ import annotations

import glob
import os
import random
import shutil

from perfbench import gen

#: The ``queries`` mix: one key per registry module, so that every
#: ``queries.<module>`` layer is measured. The first seven are relational
#: and warehouse keys (executor work and the per-job floor); the last four
#: are LLM-data keys (loops of Spark actions while building, Arrow exchange
#: with Python workers, and the ``_scratch`` artifact store:
#: ``q_oov_apply_artifact`` trains into the wiped store on its first run,
#: then serves from it). ``q_graph_kcore`` is an iterative peel that
#: checkpoints and persists, and leaves blocks behind
#: (``queries.leftover_blocks``).
QUERY_MIX = {
    "relational": "q_agg_groupby",
    "windows": "q_win_topk_group",
    "tpch": "q_tpch_q9",
    "retail": "q_ds_distinct_cube",
    "analytics": "q_feat_hashing",
    "stream": "q_ts_interpolate",
    "lakehouse": "q_cdc_apply",
    "curation": "q_graph_kcore",
    "llm": "q_oov_apply_artifact",
    "retrieval": "q_bm25",
    "udf": "q_udf_scalar_pandas",
}


def wipe_stores(root: str, tag: str) -> None:
    """Remove every ``_scratch/<store>/<tag>`` directory (artifact and
    layout stores, census state) so each set-up trains from nothing."""
    for d in glob.glob(os.path.join(root, "_scratch", "*", tag)):
        shutil.rmtree(d, ignore_errors=True)


class QueryWorkload:
    """:data:`QUERY_MIX` over the seeded tables, in a seeded order."""

    def __init__(self, name, spark, tracer, root, work, seed):
        from mongo_to_parquet_spark.queries import queries

        self.name, self.spark, self.tr, self.root, self.seed = name, spark, tracer, root, seed
        # the basename carries the seed: the program keys its stores by it
        self.tag = f"pb-{name}-s{seed}"
        self.data = os.path.join(work, self.tag)
        fns = queries()
        self.fns = {k: fns[k] for k in QUERY_MIX.values()}
        self.layer = {k: f"queries.{m}" for m, k in QUERY_MIX.items()}
        for k, fn in self.fns.items():
            if self.layer[k] != "queries." + fn.__module__.rsplit(".", 1)[-1]:
                raise ValueError(f"{k} is not in {self.layer[k]}")
        self.order = list(self.fns)
        random.Random(seed).shuffle(self.order)
        self.leftovers: dict[str, int] = {}

    def prepare(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_tables(self.data, self.seed)
        wipe_stores(self.root, self.tag)

    def ops(self):
        return [(k, self.layer[k], lambda op, k=k: self._run_key(op, k)) for k in self.order]

    def _run_key(self, op: str, key: str) -> None:
        tr, layer = self.tr, self.layer[key]
        before = self._blocks() if tr.enabled else set()
        with tr.op(op, key):
            with tr.span(f"{layer}.build", op):
                df = self.fns[key](self.spark, self.data)
            if tr.enabled:
                with tr.span(f"{layer}.plan", op):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"{layer}.exec", op):
                df.write.format("noop").mode("overwrite").save()
        if tr.enabled:
            self.leftovers[op] = len(self._blocks() - before)
        self.spark.catalog.clearCache()

    def _blocks(self) -> set[str]:
        """Persistent RDDs and temp views that exist right now."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs().keySet()
        views = self.spark.catalog.listTables()
        return {f"rdd {i}" for i in rdds} | {f"view {t.name}" for t in views if t.isTemporary}

    def traced_extras(self):
        return []

    def figures(self) -> dict:
        return {"leftover_blocks": sum(self.leftovers.values())}

    def check(self) -> dict[str, str]:
        """One more pass, untimed, that collects each key's output in the
        state the measured passes left (stores, leftover blocks) and compares
        it with the key's DuckDB oracle, order-insensitively
        (tools/parity.compare). Returns ``{key: error}`` for every mismatch."""
        from mongo_to_parquet_spark.queries import oracle_sql
        from tools.parity import compare, duck_connection

        con = duck_connection(self.data)
        oracle = oracle_sql()
        bad = {}
        for key in self.order:
            try:
                got = self.fns[key](self.spark, self.data).toPandas()
                err = compare(got, con.execute(oracle[key]).df())
            except Exception as e:  # a crash is a wrong output, reported
                err = f"{type(e).__name__}: {e}"
            finally:
                self.spark.catalog.clearCache()
            if err:
                bad[key] = err
        con.close()
        return bad

    def cleanup(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        wipe_stores(self.root, self.tag)


class ExportWorkload:
    """The reference's whole job: a seeded mongoexport dump through
    ``ExportJob`` with a date range, as ``__main__ --source-format
    mongoexport`` runs it."""

    COLLECTIONS = {"sales": "created_at", "customers": ""}

    def __init__(self, name, spark, tracer, root, work, seed):
        from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

        self.name, self.spark, self.tr, self.seed = name, spark, tracer, seed
        self.dir = os.path.join(work, f"pb-{name}-s{seed}")
        self.dump = os.path.join(self.dir, "dump")
        self.out = os.path.join(self.dir, "out")
        self.shards = os.cpu_count() or 1
        self.expect: dict = {}
        self.totals: dict = {}
        self.observed: dict = {}
        spark.dataSource.register(MongoExportDataSource)

    def prepare(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.expect = gen.write_dump(self.dump, self.seed, self.shards)

    def _path(self, coll: str) -> str:
        p = os.path.join(self.dump, f"{coll}.jsonl")
        return p if os.path.exists(p) else os.path.join(self.dump, coll)

    def _load(self, coll: str, op: str | None = None):
        """The ``__main__`` mongoexport reader: sampled schema inference,
        then the DataSource scan. With ``op``, inference is a span of it."""
        from contextlib import nullcontext

        from mongo_to_parquet_spark.sources.extjson import infer_extjson_schema

        p = self._path(coll)
        with self.tr.span("sources.extjson.infer", op) if op else nullcontext():
            schema = infer_extjson_schema(self.spark, p)
        return self.spark.read.format("mongoexport").schema(schema).load(p)

    def ops(self):
        return [("export", "sources.mongo", self._export)]

    def _export(self, op: str) -> None:
        from mongo_to_parquet_spark.config import JobConfig
        from mongo_to_parquet_spark.sources.mongo import ExportJob

        cfg = JobConfig(
            output_dir=self.out,
            start_date=gen.EXPORT_START,
            end_date=gen.EXPORT_END,
            date_collections=dict(self.COLLECTIONS),
        )
        with self.tr.op(op, "export"), self.tr.span("sources.mongo.job", op):
            self.totals = ExportJob(self.spark, cfg, lambda c: self._load(c, op)).run()

    def traced_extras(self):
        """The scan alone (reader to ``noop``) and the partitioned write
        alone (on a parquet copy of the parsed dump, so no parsing)."""
        return [("scan", "sources.extjson", self._scan), ("write", "sources.export", self._write)]

    def _scan(self, op: str) -> None:
        df = self._load("sales")
        with self.tr.span("sources.extjson.scan", op):
            df.write.format("noop").mode("overwrite").save()

    def _write(self, op: str) -> None:
        from mongo_to_parquet_spark.sources.export import export_partitioned_observed

        copy = os.path.join(self.dir, "sales_parquet")
        if not os.path.isdir(copy):  # made once, untimed
            self._load("sales").write.parquet(copy)
        df = self.spark.read.parquet(copy)
        with self.tr.span("sources.export.write", op):
            self.observed = export_partitioned_observed(
                df, os.path.join(self.dir, "write_out"), "created_at",
                start=gen.EXPORT_START, end=gen.EXPORT_END,
            )

    def figures(self) -> dict:
        """What the last export wrote, for the per-layer metrics."""
        files = glob.glob(os.path.join(self.out, "**", "*.parquet"), recursive=True)
        nbytes = sum(os.path.getsize(f) for f in files)
        return {
            "files": len(files),
            "bytes": nbytes,
            "out_bytes_per_in_byte": nbytes / self.expect["bytes_in"],
            "rows_unknown_year": int(self.observed.get("rows_unknown_year", 0)),
            "docs_written": sum(self.totals.values()),
            "docs_scanned": gen.DUMP_DOCS,
        }

    def check(self) -> dict[str, str]:
        """Re-read the export: per-``year=`` row counts and value sums and
        the totals against the generator's. The range query drops null and
        missing dates, so any ``year=unknown`` row is wrong."""
        from pyspark.sql import functions as F

        exp = self.expect
        bad = {}
        try:
            sales = self.spark.read.parquet(os.path.join(self.out, "sales"))
            rows = sales.groupBy("year").agg(
                F.count(F.lit(1)), F.sum("seq"), F.sum("qty"), F.sum(F.col("amount") * 100)
            ).collect()
            got = {r[0]: [int(r[1]), int(r[2]), int(r[3]), int(r[4])] for r in rows}
            want = exp["years"]
            if got != want:
                bad["sales"] = f"per-year (count, seq, qty, cents) {got} != {want}"
            cols = set(sales.columns)
            if "_id" in cols or not {"year", "month", "day"} <= cols:
                bad["sales_columns"] = f"columns {sorted(cols)}"
            flat = self.spark.read.parquet(os.path.join(self.out, "customers"))
            n, s = flat.agg(F.count(F.lit(1)), F.sum("visits")).first()
            if [n, s] != exp["flat"] or "_id" in flat.columns:
                bad["customers"] = f"(count, visits) {[n, s]} != {exp['flat']}"
            total = sum(v[0] for v in want.values())
            if self.totals != {"sales": total, "customers": exp["flat"][0]}:
                bad["totals"] = f"ExportJob totals {self.totals}, expected {total}"
        except Exception as e:  # unreadable output is a wrong output
            bad["export"] = f"{type(e).__name__}: {e}"
        return bad

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
