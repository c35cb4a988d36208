"""Data-quality validation: declarative checks → one violations DataFrame.

An export pipeline at 100 TB needs its gate checks (nulls, domains, ranges,
uniqueness, referential integrity) to cost as little as possible. The shapes
here:

- ``row_checks``: ALL row-level predicates for one table fused into a
  SINGLE aggregate pass — one scan, one conditional-sum per rule, then an
  unpivot of the 1-row result. Adding a rule costs one column, not one scan.
- ``unique_check``: duplicate count via ``count(*) − count(distinct …)`` —
  partial-aggregated, no row explosion back to the driver.
- ``fk_check``: orphan count via LEFT ANTI join (broadcast when the parent
  is a dim, SMJ otherwise) — never a row-by-row lookup.

All checks return the same 2-column shape ``(chk, violations)`` so they
union into one report; 0-violation rows stay in the report as evidence the
check ran. The reference has no validation at all (schema drift is silently
frozen-or-dropped, SURVEY §1.1) — this module is the guard the reference
was missing, generalized.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_checks(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One scan over ``df``; each rule maps check-name → VIOLATION predicate."""
    wide = df.agg(
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)
            for name, cond in rules.items()
        ]
    )
    return wide.unpivot([], list(rules), "chk", "violations")


def unique_check(df: DataFrame, cols: list[str], name: str) -> DataFrame:
    """Violations = rows beyond the first per distinct key tuple."""
    return df.agg(
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]))
        .cast("bigint")
        .alias("violations")
    ).select(F.lit(name).alias("chk"), "violations")


def fk_check(
    child: DataFrame, key: str, parent: DataFrame, parent_key: str, name: str
) -> DataFrame:
    """Violations = child rows whose key has no parent (anti join)."""
    orphans = child.select(F.col(key).alias("__k")).join(
        parent.select(F.col(parent_key).alias("__k")), "__k", "left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).cast("bigint").alias("violations")).select(
        F.lit(name).alias("chk"), "violations"
    )


def run_checks(*reports: DataFrame) -> DataFrame:
    """Union per-table reports into one (chk, violations) DataFrame."""
    return reduce(lambda a, b: a.unionByName(b), reports)


def profile_columns_kmv(
    df: DataFrame,
    reprs: dict[str, "Column | None"],
    hash_inputs: dict[str, Column] | None = None,
    k: int = 64,
) -> DataFrame:
    """:func:`profile_columns` with KMV-estimated distinct counts —
    hash-checkable by a DuckDB oracle (functions/sketch.py), unlike the
    HLL ``exact=False`` mode.

    ``hash_inputs`` maps column → a canonical STRING expression to hash
    (None/absent = plain string cast; doubles and timestamps need an
    explicit engine-stable rendering).

    Plan — TWO table scans total, one full-data shuffle:

    - base: nulls/min/max for every column in ONE 1-row aggregate pass.
    - sketches: ONE stacked scan builds all columns' ``(col_name, h)``
      hash pairs (a single Generate — not a scan per column), then
      ``distinct`` (HashAggregate, dedups map-side so the only
      full-data shuffle carries per-task-distinct hashes) feeding
      ``row_number() ≤ k`` per column. Catalyst rewrites that filter
      into ``WindowGroupLimit``: each map task keeps only the k
      smallest rows per column BEFORE the window's shuffle, so the
      per-task state is a fixed k-slot heap per column and the final
      per-column sort sees at most ``k × shuffle_partitions`` rows.
      (History, all best-of-3 under the bench.py protocol at sf0.1 on
      one box: a ``collect_set``-per-bucket form buffered a bucket's
      ENTIRE distinct-hash set — unbounded per-group state at high
      cardinality — and measured 2.34s; this form without the
      parallelism guard below, 1.85s; with it, 1.63s. The round-4
      per-column TakeOrdered form was bounded but paid len(reprs)
      pruned scans.)

    n_distinct is a BIGINT estimate: exact below k, else ⌊(k−1)·2³²/θ⌋.
    """
    from pyspark.sql import Window as _W

    from mongo_to_parquet_spark.functions import sketch as _sk

    names = list(reprs)
    hash_inputs = hash_inputs or {}
    # (Sharing one fan_out exchange between this base aggregate and the
    # hash pipeline does NOT dedupe: Catalyst pushes each consumer's
    # projection below the round-robin exchange, so the two subtrees
    # canonicalize differently and ReuseExchange never fires — lesson 24;
    # a persist isn't worth a 1-row aggregate's input. Two scans stands.)
    from mongo_to_parquet_spark.operators.parallel import fan_out

    base = df.agg(
        *[
            a
            for i, c in enumerate(names)
            for a in (
                (F.count(F.lit(1)) - F.count(F.col(c))).cast("bigint").alias(f"nn_{i}"),
                F.min(F.col(c)).alias(f"mn_{i}"),
                F.max(F.col(c)).alias(f"mx_{i}"),
            )
        ]
    )
    fmt = lambda i, c: (  # noqa: E731
        reprs[names[i]](c) if reprs[names[i]] is not None else c.cast("string")
    )
    shaped = base.select(
        *[
            col
            for i in range(len(names))
            for col in (
                F.col(f"nn_{i}"),
                fmt(i, F.col(f"mn_{i}")).alias(f"mns_{i}"),
                fmt(i, F.col(f"mx_{i}")).alias(f"mxs_{i}"),
            )
        ]
    )
    stack_args = ", ".join(
        f"'{names[i]}', nn_{i}, mns_{i}, mxs_{i}" for i in range(len(names))
    )
    stacked = shaped.selectExpr(
        f"stack({len(names)}, {stack_args}) "
        "as (col_name, n_nulls, min_repr, max_repr)"
    )
    # Parallelism guard for the hash stage: the stacked Generate computes
    # len(names) md5s per row inside its stage, so without fan_out a
    # one-file scan serializes every hash on one core — measured 0.94s of
    # a 1.6s sketch at sf0.1. Projection AFTER the fan_out so the
    # date_format/decimal renderings run parallel too; no-op at 100 TB.
    pruned = fan_out(df.select(*dict.fromkeys(names)))
    hash_cols = pruned.select(
        *[hash_inputs.get(c, F.col(c).cast("string")).alias(f"v_{i}")
          for i, c in enumerate(names)]
    )
    pairs = (
        hash_cols.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            _sk.kmv_hash(F.col(f"v_{i}")).alias("h"),
                        )
                        for i, c in enumerate(names)
                    ]
                )
            ).alias("p")
        )
        .select("p.col_name", "p.h")
        .filter(F.col("h").isNotNull())
    )
    rn = F.row_number().over(_W.partitionBy("col_name").orderBy("h"))
    sk = (
        pairs.distinct()
        .withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"), F.max("h").alias("theta"))
    )
    est = sk.select(
        "col_name",
        _sk.kmv_estimate_long(F.col("m"), F.col("theta"), k).alias("n_distinct"),
    )
    # LEFT join + coalesce(n_distinct, 0) is LOAD-BEARING: an all-NULL
    # column contributes zero rows to `pairs` (every hash filtered by
    # isNotNull), so its group never forms in `est` — an inner join
    # would silently drop exactly the columns a data-quality profile
    # exists to flag. tests/test_operators.py pins this with an
    # all-NULL column; the oracle mirrors it with LEFT JOIN + COALESCE.
    return stacked.join(F.broadcast(est), "col_name", "left").select(
        "col_name",
        "n_nulls",
        F.coalesce("n_distinct", F.lit(0)).cast("bigint").alias("n_distinct"),
        "min_repr",
        "max_repr",
    )


def profile_columns(
    df: DataFrame, reprs: dict[str, Column | None], exact: bool = True
) -> DataFrame:
    """Column profiler → (col_name, n_nulls, n_distinct, min_repr, max_repr).

    ``reprs`` maps column name → a formatting expression applied to the raw
    MIN/MAX **after** aggregation (None = plain string cast). Formatting
    post-agg matters: min over a string repr would compare "100" < "99"
    lexicographically; the aggregate runs on the native type.

    Plan shape (the part that matters): mixing exact multi-column
    ``count_distinct`` with plain aggregates drags the WHOLE query through
    the distinct rewrite — Expand (k+1× row amplification) feeding
    SortAggregate, since string min/max buffers are not hash-aggregatable
    (measured 30× slower than the split plan at sf0.1). So:

    - ``exact=True``: TWO 1-row aggregates (nulls/min/max; distincts)
      cross-joined — each partial-aggregates map-side, the distinct pass
      keeps its Expand but no longer poisons the cheap metrics.
    - ``exact=False``: ONE pass — ``approx_count_distinct`` has a
      fixed-size HLL buffer, so everything stays in a single
      HashAggregate over a single scan. Recommended at 100 TB (the
      signature defaults to exact=True for oracle-exact results).
    """
    names = list(reprs)
    base = df.agg(
        *[
            a
            for i, c in enumerate(names)
            for a in (
                (F.count(F.lit(1)) - F.count(F.col(c))).cast("bigint").alias(f"nn_{i}"),
                F.min(F.col(c)).alias(f"mn_{i}"),
                F.max(F.col(c)).alias(f"mx_{i}"),
            )
        ]
    )
    if exact:
        nd = df.agg(
            *[
                F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{i}")
                for i, c in enumerate(names)
            ]
        )
        wide = base.crossJoin(nd)
    else:
        wide = df.agg(
            *[
                a
                for i, c in enumerate(names)
                for a in (
                    (F.count(F.lit(1)) - F.count(F.col(c)))
                    .cast("bigint")
                    .alias(f"nn_{i}"),
                    F.approx_count_distinct(F.col(c)).cast("bigint").alias(f"nd_{i}"),
                    F.min(F.col(c)).alias(f"mn_{i}"),
                    F.max(F.col(c)).alias(f"mx_{i}"),
                )
            ]
        )
    fmt = lambda i, c: (  # noqa: E731
        reprs[names[i]](c) if reprs[names[i]] is not None else c.cast("string")
    )
    shaped = wide.select(
        *[
            col
            for i in range(len(names))
            for col in (
                F.col(f"nn_{i}"),
                F.col(f"nd_{i}"),
                fmt(i, F.col(f"mn_{i}")).alias(f"mns_{i}"),
                fmt(i, F.col(f"mx_{i}")).alias(f"mxs_{i}"),
            )
        ]
    )
    stack_args = ", ".join(
        f"'{names[i]}', nn_{i}, nd_{i}, mns_{i}, mxs_{i}" for i in range(len(names))
    )
    return shaped.selectExpr(
        f"stack({len(names)}, {stack_args}) "
        "as (col_name, n_nulls, n_distinct, min_repr, max_repr)"
    )


def exact_ranks_smallest(
    df: DataFrame,
    col: str,
    ks: list[int],
    buckets: int = 1024,
    weight_col: str | None = None,
) -> dict[int, int]:
    """EXACT k-th smallest of an integer column for every rank in ``ks``,
    WITHOUT a global sort — the 100 TB path for exact quantiles,
    equi-depth boundaries and percentile grids.

    Spark's ``percentile`` aggregate buffers every value (exact but
    memory-bound); a global sort is a full shuffle of the fact. This
    instead narrows an integer value range by iterative HISTOGRAM
    REFINEMENT: each round is ONE map-combined aggregate that buckets
    the in-window rows into ≤``buckets`` cells per window (≤``buckets``
    rows per window reach the driver), picks each rank's cell, and
    recurses into it. Rounds = ⌈log_buckets(range)⌉ — 3 full scans for a
    32-bit domain at B=1024 plus one min/max pass, independent of row
    count and of the number of ranks; driver state is one bucket
    census per distinct window.

    Every round serves all still-active ranks in one scan. Each rank's
    window is either identical to or disjoint from every other rank's:
    all start in the global window, each round splits a window into
    disjoint cells, and ranks sharing a window share its base count
    (weight known below ``lo``). So a row falls into at most one window,
    and the round is a filter on the OR of the literal ``between``
    windows plus one literal ``CASE`` that tags the row with its window
    and bucket — no join. Both expressions grow with the number of
    distinct windows, at most ``len(ks)`` (today's callers pass ≤15).

    When a window's bucket width reaches 1, the chosen cell IS the
    answer (a single integer with count > 0 — an actual data value).
    Requires an integer-valued column; caller pre-scales decimals.
    NULL values are not ranked.

    ``weight_col``: treat each row as ``weight`` occurrences of its
    value — rank-k over the EXPANDED multiset without expanding it.
    This is what lets a caller collapse a 100 TB fact to its key census
    once (one scan, |keys| rows) and then run the rank probes against
    the census instead of the fact (q_partition_bounds).
    """
    c = F.col(col)
    w = F.col(weight_col) if weight_col else F.lit(1)
    # count only rows that can land in a bucket: a NULL value never
    # passes between(), so counting it in n would make high ranks die
    # mid-refinement ('rank not found in census') instead of failing the
    # range check here (round-7 advice). NULL-value (and NULL-weight)
    # rows are excluded from the ranked multiset, consistently with the
    # census sums below.
    row = df.agg(
        F.min(c).alias("lo"),
        F.max(c).alias("hi"),
        F.sum(F.when(c.isNotNull(), w)).alias("n"),
    ).collect()[0]
    n = row["n"] or 0
    bad = [k for k in ks if n == 0 or not 1 <= k <= n]
    if bad:
        raise ValueError(f"ranks {bad} out of range for {n} rows")
    # state per rank: (lo, hi, base) — base = weight known < lo
    state = {k: (int(row["lo"]), int(row["hi"]), 0) for k in ks}
    while wins := sorted({(lo, hi) for lo, hi, _ in state.values() if hi > lo}):
        width = {win: (win[1] - win[0] + buckets) // buckets for win in wins}
        # cell = window index · buckets + bucket (a bucket index is
        # < buckets). INTEGER bucket index: (c - lo) / width through
        # double would mis-bucket once the range passes 2^53 (value near
        # a bucket boundary rounds across it); div() keeps the whole
        # contract in int64 like the driver-side range arithmetic below
        cases = " ".join(
            f"WHEN {col} BETWEEN {lo}L AND {hi}L"
            f" THEN {i * buckets}L + div({col} - {lo}L, {width[lo, hi]}L)"
            for i, (lo, hi) in enumerate(wins)
        )
        census: dict[tuple[int, int], dict[int, int]] = {win: {} for win in wins}
        for r in (
            df.filter(reduce(Column.__or__, [c.between(lo, hi) for lo, hi in wins]))
            .groupBy(F.expr(f"CASE {cases} END").alias("cell"))
            .agg(F.sum(w).alias("cnt"))
            .collect()
        ):
            i, b = divmod(r["cell"], buckets)
            census[wins[i]][b] = r["cnt"]
        for k, (lo, hi, base) in state.items():
            if hi <= lo:
                continue
            cells = census[lo, hi]
            cum = base
            for b in sorted(cells):
                if cum + cells[b] >= k:  # the state key IS the rank
                    new_lo = lo + b * width[lo, hi]
                    state[k] = (new_lo, min(hi, new_lo + width[lo, hi] - 1), cum)
                    break
                cum += cells[b]
            else:  # pragma: no cover - counts always reach k by construction
                raise AssertionError("rank not found in census")
    return {k: state[k][0] for k in ks}
