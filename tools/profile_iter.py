"""Phase-profile the iterative-driver compile floor (round-12 item 1).

Decomposes one iteration of each trainer loop into:
  t_sql     spark.sql() call           -> parse + analyze
  t_plan    queryExecution().executedPlan() -> optimize + physical plan
  t_exec    collect()                  -> codegen + schedule + run + fetch

plus trivial-statement floors for reference. Run AFTER the bench (idle
box); prints a table. Usage: python tools/profile_iter.py [bpe|wp|qlr|floor]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from mongo_to_parquet_spark import get_spark  # noqa: E402
from mongo_to_parquet_spark.operators.scope import scope  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def phases(spark, sql_text, reps=6):
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = spark.sql(sql_text)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.collect()
        t3 = time.perf_counter()
        out.append((t1 - t0, t2 - t1, t3 - t2))
    return out


def show(name, rows):
    for i, (a, b, c) in enumerate(rows):
        print(
            f"{name}[{i}] sql={a*1000:7.1f}ms plan={b*1000:7.1f}ms "
            f"exec={c*1000:7.1f}ms total={(a+b+c)*1000:7.1f}ms"
        )


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("profile_iter")
    spark.sparkContext.setLogLevel("ERROR")

    if which in ("floor", "all"):
        show("select1", phases(spark, "SELECT 1"))
        show("range", phases(spark, "SELECT sum(id) FROM range(0, 1000)"))

    if which in ("bpe", "wp", "all"):
        from mongo_to_parquet_spark.queries.curation import (
            _PAIR_ARGMAX_SQL,
            _WP_ARGMAX_SQL,
            _bpe_census,
            _open_census,
        )

        for name, sql in (("bpe", _PAIR_ARGMAX_SQL), ("wp", _WP_ARGMAX_SQL)):
            if which in (name, "all"):
                with scope(spark) as sc:
                    _, view = _open_census(sc, _bpe_census(spark, SF))
                    show(f"{name}_argmax", phases(spark, sql.format(view=view)))

    if which in ("qlr", "all"):
        from mongo_to_parquet_spark.operators.classifier import (
            N_W,
            doc_dense,
            gradient_sql,
            open_dense,
        )
        from mongo_to_parquet_spark.sources.catalog import load_table

        docs = load_table(spark, SF, "documents")
        with scope(spark) as sc:
            _, view = open_dense(sc, doc_dense(docs))
            # same weights every rep (codegen-cache best case)
            show("qlr_same_w", phases(spark, gradient_sql([0] * N_W, view)))
            # different weights each rep (the real loop)
            rows = []
            for i in range(6):
                w = [i * 1000 + j for j in range(N_W)]
                rows.extend(phases(spark, gradient_sql(w, view), reps=1))
            show("qlr_diff_w", rows)

    spark.stop()


if __name__ == "__main__":
    main()
