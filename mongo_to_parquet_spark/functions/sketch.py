"""Hash-checkable distinct sketches: KMV (k-minimum-values) primitives.

Engine-native approximate aggregates — ``approx_count_distinct`` (HLL++),
``hll_sketch_agg`` (DataSketches), ``approx_percentile`` (GK) — are the
production 100 TB path: fixed-size mergeable state, one pass, no distinct
rewrite. But their estimates are engine-specific bit-for-bit, so a DuckDB
oracle can never hash-match them; the driver's correctness gate would see
a perpetual rows-only check.

This module provides the SAME sketch contract in a cross-engine-
deterministic form (the ``q_sketch_kmv`` pattern, queries/retrieval.py):

- hashes derive from **md5** over a canonical string rendering — both
  Spark (``conv(substr(md5(..),1,8),16,10)``) and DuckDB
  (``CAST(concat('0x', substr(md5(..),1,8)) AS BIGINT)``) map a value to
  the identical 32-bit integer;
- a KMV sketch is the k smallest distinct hash values — bounded state,
  mergeable by union-then-re-truncate, per-partition top-k before any
  shuffle;
- the estimate is ``(k-1)·2³²/θ`` with θ the k-th smallest hash —
  computed from identical integer inputs in IEEE double on both engines,
  hence hash-identical after ROUND.

The twins keep the declared query surface 100% oracle-checkable; the
engine-native formulations remain available as bench-only ``*_native``
queries (queries/relational.py BENCH_ONLY) so the scale path is still
measured. Relative standard error of KMV ≈ 1/√(k−2) (Beyer et al.,
"On Synopses for Distinct-Value Estimation Under Multiset Operations",
SIGMOD'07); sketches smaller than k are exact by construction and both
engines take the same CASE branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: md5-prefix hash space (2^32) — 8 hex chars
U32 = 4294967296

#: default sketch size: RSE ≈ 1/√62 ≈ 12.7%; small enough that the
#: estimator branch (not the exact small-sketch branch) actually
#: exercises on the sf0.01 fixtures (150 distinct users)
DEFAULT_K = 64


def kmv_hash(col: Column, salt: str = "kmv:") -> Column:
    """Spark: value → uniform 32-bit integer via md5 prefix (NULL-safe:
    null values hash to null; callers filter)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
    )


def kmv_hash_sql(expr: str, salt: str = "kmv:") -> str:
    """DuckDB SQL emitting the identical hash as :func:`kmv_hash`.

    ``expr`` must render the value exactly as Spark's ``cast("string")``
    does (integers/strings are safe as-is; doubles and timestamps need a
    canonical rendering — see q_profile_approx).

    NULL parity: BOTH concatenations use ``||`` (NULL-propagating), NOT
    ``concat()`` — DuckDB's ``concat`` SKIPS null arguments, so a NULL
    value would hash to md5(salt) instead of NULL (and the outer concat
    would produce the uncastable literal ``'0x'``), diverging from
    Spark's NULL-in-NULL-out ``F.concat``. With ``||`` a NULL input
    yields a NULL hash in both engines.
    """
    return (
        f"CAST(('0x' || substr(md5('{salt}' || "
        f"CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
    )


def kmv_estimate(m: Column, theta: Column, k: int, dp: int = 4) -> Column:
    """Spark: distinct-count estimate (DOUBLE, ROUND dp) from sketch size
    m and k-th smallest hash theta; exact when the sketch is not full."""
    est = F.lit(k - 1) * F.lit(float(U32)) / theta
    return F.round(F.when(m < k, m.cast("double")).otherwise(est), dp)


def kmv_estimate_sql(m: str, theta: str, k: int, dp: int = 4) -> str:
    """DuckDB twin of :func:`kmv_estimate`."""
    return (
        f"ROUND(CASE WHEN {m} < {k} THEN CAST({m} AS DOUBLE) "
        f"ELSE ({k} - 1) * {U32}.0 / {theta} END, {dp})"
    )


def kmv_estimate_long(m: Column, theta: Column, k: int) -> Column:
    """Spark: BIGINT estimate via FLOOR — floor of an identical IEEE
    double is engine-stable (profile-style outputs want integer counts)."""
    est = F.floor(F.lit(k - 1) * F.lit(float(U32)) / theta)
    return F.when(m < k, m).otherwise(est).cast("bigint")


def kmv_estimate_long_sql(m: str, theta: str, k: int) -> str:
    """DuckDB twin of :func:`kmv_estimate_long`."""
    return (
        f"CAST(CASE WHEN {m} < {k} THEN {m} "
        f"ELSE FLOOR(({k} - 1) * {U32}.0 / {theta}) END AS BIGINT)"
    )


# ----------------------------------------------------- count-min bucket ----

#: CMS geometry shared by the batch query (queries/retrieval.q_sketch_cms)
#: and the streaming fold (streaming/sketches.stream_multi_sketch) — one
#: definition so a retune cannot silently de-twin the two.
CMS_W, CMS_D = 64, 4


def cms_bucket(tok: Column, i, w: int = CMS_W) -> Column:
    """Row-``i`` count-min bucket of token ``tok``: first 8 hex digits of
    md5('cms' || i || ':' || tok) mod w — md5 exists in both engines, so
    CMS cells are hash-checkable (unlike xxhash sketches)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cms"), i.cast("string"), F.lit(":"), tok)),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % w
    )


def cms_bucket_sql(tok_expr: str, i_expr: str, w: int = CMS_W) -> str:
    """DuckDB twin of :func:`cms_bucket`."""
    return (
        f"CAST(concat('0x', substr(md5(concat('cms', CAST({i_expr} AS VARCHAR), "
        f"':', {tok_expr})), 1, 8)) AS BIGINT) % {w}"
    )


# ------------------------------------------------------- fixity digest -----

#: the fixity checksum modulus, 2^61 - 1 (q_export_fixity's oracle spells
#: the same literal)
FIXITY_PRIME = 2305843009213693951


def fixity_batch(df: DataFrame, part_col: Column, payload_col: Column) -> DataFrame:
    """Per-partition (part, n_rows, vsum) digest of ``df`` — shared by the
    q_export_fixity audit (queries/sinks.py) and the stream fold
    (streaming/sketches.stream_fixity): every row contributes a 48-bit
    md5-prefix integer of its payload (Spark ``conv(hex,16,10)`` ≡ DuckDB
    ``CAST('0x'||hex)``); counts and sums are additive and order-
    insensitive, so digests merge across micro-batches, partitions and
    replicas by plain addition. Sums stay UNREDUCED (DECIMAL(38,0)) so
    merging remains linear; :func:`fixity_checksum` reduces them."""
    v = F.conv(F.substring(F.md5(payload_col), 1, 12), 16, 10).cast("bigint")
    return df.groupBy(part_col.alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(v.cast("decimal(38,0)")).cast("decimal(38,0)").alias("vsum"),
    )


def fixity_checksum(vsum: Column) -> Column:
    """The wire checksum of a digest sum: ``vsum mod 2^61-1`` as BIGINT."""
    return (vsum % FIXITY_PRIME).cast("bigint")
