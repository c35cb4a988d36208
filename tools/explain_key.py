"""Dump .explain('formatted') for declared keys to plans/$PLANS_ROUND/<key>_<tag>.txt
(PLANS_ROUND defaults to r12).

    python tools/explain_key.py <before|after> key [key ...]
    python tools/explain_key.py <tag> all [key ...]

For driver-loop keys whose declared DataFrame is a bounded
createDataFrame result (trainers), the dumped plan is still the declared
one; the interesting internal stages are captured separately where the
optimization notes say so.

``all`` is the plan-identity check for a refactor. It dumps every
declared key into plans/$PLANS_ROUND/all_<tag>/<key>.txt with the
build-order counters normalized (expression ids ``#N``, ``plan_id=N``,
lambda variable counters ``lambda x_N``, RDD ids ``RDD[N]``, common
subexpression names ``_common_expr_N``, and RDD call sites ``at
<file>:<line>`` as ``at <callsite>``, since a checkpoint scan's call
site depends on the session's history, not on the plan) and the
checkout root replaced by ``<root>``, and writes ``oracle.sha256``,
one ``<sha256>  <key>`` line per oracle SQL string, beside the plans.
Run it with the same SPARK_GRAFT_SF_DIR in the parent and in the
changed checkout; then
``diff -r <parent>/plans/<round>/all_<tag> <change>/plans/<round>/all_<tag>``
is the whole check. Keys named after ``all`` are re-dumped into the
same directory. Three keys can differ between two fresh runs of the
same tree, so re-dump them alone, one key per process (``<tag> all
q_profile``), before reading a diff in them as a change: ``q_profile``
and ``q_decontaminate_doc`` (their Expand column order follows the
session's expression-id counter, so it changes with the keys dumped
before them) and ``q_graph_pagerank`` (its codegen ids can swap even in
a lone re-dump; a diff only in codegen ids and their stage numbers that
a second lone re-dump clears is not a change).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

from mongo_to_parquet_spark import get_spark  # noqa: E402
from mongo_to_parquet_spark.queries import (  # noqa: E402
    bench_only, oracle_sql, queries,
)

_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r" at [^\s,]+:\d+"), " at <callsite>"),
)


def normalize(plan: str) -> str:
    """The plan text with build-order counters and the checkout root
    replaced, so two checkouts of the same plan compare equal."""
    plan = plan.replace(ROOT, "<root>")
    for pat, rep in _COUNTERS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    tag = sys.argv[1]
    keys = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        ROOT, "plans", os.environ.get("PLANS_ROUND", "r12"),
    )
    every = keys[:1] == ["all"]
    qs = queries() if every else {**queries(), **bench_only()}
    if every:
        keys = keys[1:] or sorted(qs)
        out_dir = os.path.join(out_dir, f"all_{tag}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        df = qs[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if every:
            path = os.path.join(out_dir, f"{key}.txt")
            plan = normalize(plan)
        else:
            path = os.path.join(out_dir, f"{key}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    if every:
        path = os.path.join(out_dir, "oracle.sha256")
        with open(path, "w") as f:
            for key, sql in sorted(oracle_sql().items()):
                f.write(f"{hashlib.sha256(sql.encode()).hexdigest()}  {key}\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
