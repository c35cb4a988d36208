"""Distributed exact ranking — the two-level (bucketed) midrank operator.

The scale hazard behind every rank statistic (Spearman, Mann-Whitney,
deciles, PR curves) is the global sort that naive ranking implies: a
window over `ORDER BY value` with no partition funnels the whole census
through ONE task. When the census is value-grid-bounded (2dp money) that
is fine; when values are nearly distinct the census IS the corpus
(q_stats_spearman's price column: 583k distinct of 600k rows at sf0.1)
and the single-task sort is disqualifying at 100 TB.

``doubled_midranks`` computes exact average (mid-)ranks with the standard
two-level cumulative instead:

  1. per-value counts (one aggregation; the only corpus-sized shuffle),
  2. bucket by ``value div bucket_div``; ONLY the bucket census (a
     handful of rows) crosses a global offset window,
  3. per-value cumulatives run in a window PARTITIONED BY bucket —
     fully parallel,
  4. midrank = bucket offset + in-bucket cumulative.

Ranks are returned DOUBLED (``2*avg_rank = 2*rank_min + cnt - 1``), so
ties at .5 stay exact integers — the cross-engine fixed-point discipline
(queries/__init__ docstring). Join the result back onto the fact by value
to attach per-row ranks (broadcast when the census is small; shuffle
otherwise — AQE picks).

Assumes a non-negative integral ``col`` (floor-div bucketing); map
values onto an integer grid first (cents, micro-units) as every caller
in this repo already does.

``_moment_sums`` is the exact bivariate sufficient-sum aggregate that
Pearson-on-ranks (q_stats_spearman) and the OLS fit
(q_stats_regression) both evaluate their closed forms over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def doubled_midranks(df: DataFrame, col: str, bucket_div: int = 16384) -> DataFrame:
    """Return (col, r{col}2) with r2 = 2 * average rank of ``col`` in df.

    Exact for ties (midranks); no corpus-sized sort anywhere — see module
    docstring for the plan shape.
    """
    c = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("bkt", F.expr(f"{col} div {bucket_div}"))
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bo = (
        c.groupBy("bkt")
        .agg(F.sum("cnt").cast("bigint").alias("bn"))
        .withColumn("boff", F.coalesce(F.sum("bn").over(wb), F.lit(0)).cast("bigint"))
        .drop("bn")
    )
    wv = Window.partitionBy("bkt").orderBy(col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        c.join(bo, "bkt")
        .withColumn(
            "cum_in", F.coalesce(F.sum("cnt").over(wv), F.lit(0)).cast("bigint")
        )
        .select(
            col,
            (2 * (F.col("boff") + F.col("cum_in")) + F.col("cnt") + 1).alias(
                f"r{col}2"
            ),
        )
    )


def _moment_sums(df: DataFrame, x: str, y: str, *by: str) -> DataFrame:
    """(*by, n, sx, sy, sxy, sxx, syy, n_rows): the bivariate sufficient
    sums of integral columns ``x`` and ``y`` (one row per ``by`` group,
    or one row when ``by`` is empty). Each sum accumulates in
    DECIMAL(38,0) (DuckDB HUGEINT on the oracle side) — exact and
    order-free — and converts ONCE to double, so a closed-form statistic
    over them (OLS fit, Pearson on ranks) sees the same IEEE inputs on
    both engines."""
    def dsum(c):
        return F.sum(c.cast("decimal(38,0)")).cast("double")

    cx, cy = F.col(x), F.col(y)
    return df.groupBy(*by).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(cx).alias("sx"),
        dsum(cy).alias("sy"),
        dsum(cx * cy).alias("sxy"),
        dsum(cx * cx).alias("sxx"),
        dsum(cy * cy).alias("syy"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
