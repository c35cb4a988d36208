"""In-engine trained quality classifier: logistic regression by gradient
descent over hashed token features, ENTIRELY in fixed-point integer
arithmetic so a fixed iteration count is bit-identical cross-engine (the
PageRank/PCA discipline applied to model TRAINING — integer sums are
order-free, so no float-summation drift can leak into the weights).

This is the trained counterpart of the fastText/logreg quality gate every
published pretraining recipe runs (GPT-3's LR-over-hashed-ngrams filter,
LLaMA/RedPajama's classifier pass): curated-positive vs negative labels
derive from the corpus's own deterministic quality signals, features are
the hashing-trick token buckets (Weinberger et al.; q_feat_hashing's
md5-prefix identity), and the learned weights persist through the
versioned tokenizer store ("quality_lr" family) to serve at scan speed.

Determinism contract (the whole point of the fixed-point form):
- features x are ×S integers: x = (count·S) div n_tok, bias = S,
  length = (n_tok·S) div 100;
- the sigmoid is the ALGEBRAIC one, σ(m) = ½(1 + m/(1+|m|)), computed as
  σ_int = S div 2 + (m·S) div (2·(S+|m|)) — integer products and
  truncating division only, no exp() whose last ulp could differ across
  engines and compound over iterations;
- both engines truncate integer division toward zero (Spark `div` ≡
  DuckDB `//`, verified on negatives) and every reduction is an integer
  SUM — order-independent, hash-exact at any parallelism.

Scale: model state is D+2 scaled-integer weights — it rides the plan as
LITERALS (the kmeans-centroid driver-pick exception), so the margin pass
is map-side with NO join. Training reads one row per document (label +
dense D+2 feature array, built once from one token pass and cached);
each iteration is one scan of it whose margin, residual and gradient
terms are map-side arithmetic, reduced to D+2 partial sums per map
partition — no join and no doc-keyed shuffle. Serving is a single scan
with the weight array folded in — zero joins, zero Python — at 100 TB
the gate scores at scan speed exactly like the fixed-weight
q_quality_model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mongo_to_parquet_spark.operators.scope import scope

#: fixed-point scale — every feature, weight, margin, sigmoid value and
#: residual is an integer multiple of 1/S
S = 1_000_000
#: hashed token buckets 0..D-1; bucket D is the bias, D+1 the length
D = 32
BIAS_B = D
LEN_B = D + 1
N_W = D + 2
#: fixed iteration count and integer learning-rate numerator
#: (update: w += (LR_NUM · g) div n_train). 16×16 calibrates the keep
#: threshold to 0.96 held-out accuracy on the fixtures (AUC is already
#: 1.0 by iteration 6 — the extra iterations move the DECISION BOUNDARY,
#: not the ranking); weight bound after 16 iterations is ~2.6e8, so
#: every product stays orders of magnitude inside int64
ITERS = 16
LR_NUM = 16
#: the hashing-trick salt (cross-engine md5-prefix identity)
SALT = "qlr:"


def _tdiv(a: int, n: int) -> int:
    """Integer division truncating toward zero (SQL div / DuckDB //
    semantics) — Python's // floors instead, which diverges on negative
    gradients."""
    q, r = divmod(a, n)
    if r != 0 and (a < 0) != (n < 0):
        q += 1
    return q


def doc_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, cm, n_tok, sum_len): the ONE-token-pass sufficient
    statistics every classifier consumer derives from — cm is the
    map<bucket, count> of hashed-token tf counts, n_tok = Σ counts,
    sum_len = Σ token lengths. Features, labels, training and serving
    all read this relation, so nothing in the classifier family pays a
    second corpus scan or a doc_id join (the old shape joined a
    (doc,b)-count aggregate against a separate n_tok aggregate — two
    token passes plus an SMJ, per consumer)."""
    from mongo_to_parquet_spark.operators.parallel import fan_out

    # fan_out before the explode: md5-per-token featurization is pure
    # compute, and the fixture's one-file documents scan plans ONE task
    # (guide §2 — no-op on an already-wide cluster scan)
    tok = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    h = F.md5(F.concat(F.lit(SALT), F.col("tok")))
    byb = (
        tok.select(
            "doc_id",
            (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") % D)
            .cast("int")
            .alias("b"),
            F.length("tok").alias("lt"),
        )
        .groupBy("doc_id", "b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("lt").cast("bigint").alias("sl"),
        )
    )
    return byb.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("cm"),
        F.sum("c").cast("bigint").alias("n_tok"),
        F.sum("sl").cast("bigint").alias("sum_len"),
    )


#: the dense fixed-point feature vector (array slot j = bucket j's x,
#: slot D = bias, slot D+1 = scaled length) as a SQL expression over
#: doc_stats columns. An absent bucket contributes x=0.
_XA_EXPR = (
    f"concat(transform(sequence(0, {D - 1}),"
    f" j -> (coalesce(element_at(cm, j), CAST(0 AS BIGINT)) * {S})"
    f" div n_tok),"
    f" array(CAST({S} AS BIGINT), (n_tok * {S}) div 100))"
)

#: label gate over doc_stats columns: curated-positive = passes the
#: deterministic C4-ish gate (enough tokens, sane mean word length),
#: integer-exact on both engines (n_tok >= 1 always: split('') is [''])
_Y_EXPR = (
    "CASE WHEN n_tok >= 40 AND (sum_len * 10) div n_tok BETWEEN 30 AND 60"
    " THEN 1 ELSE 0 END"
)


def doc_dense(docs: DataFrame) -> DataFrame:
    """(doc_id, y, xa): ONE row per document — label + dense N_W-long
    fixed-point feature array, from the single doc_stats pass. This is
    the training relation: with features dense per row, every
    gradient-descent iteration is map-side arithmetic + one 34-column
    global aggregate — no per-iteration join, no doc-keyed shuffle."""
    return doc_stats(docs).select(
        "doc_id",
        F.expr(_Y_EXPR).cast("int").alias("y"),
        F.expr(_XA_EXPR).alias("xa"),
    )


def _sigmoid_int(mcol: str) -> F.Column:
    """σ_int(m) = S/2 + (m·S) div (2·(S+|m|)) ∈ [0, S]."""
    return F.expr(
        f"{S} div 2 + ({mcol} * {S}) div (2 * ({S} + abs({mcol})))"
    )


def _margin_expr(weights: list[int]) -> str:
    """Σ_j (xa[j] · w_j) div S over a dense xa column, with the weights
    folded in as literals and zero-weight terms constant-folded away
    ((x · 0) div S = 0 exactly). Pure codegen arithmetic — no join, no
    HOF, no per-row lookup table."""
    terms = [
        f"((xa[{j}] * CAST({int(wj)} AS BIGINT)) div {S})"
        for j, wj in enumerate(weights)
        if int(wj) != 0
    ]
    return " + ".join(terms) if terms else "CAST(0 AS BIGINT)"


def gradient_sql(w: list[int], view: str) -> str:
    """One iteration's ONE statement over the dense relation bound to
    ``view``, kept SMALL: the margin is one zip_with/aggregate fold over
    (xa, weight-array literal) and the gradient vector comes back as 34
    (j, g) rows from a posexplode + GROUP BY j — ~15 expression nodes
    instead of the 34-column wide-aggregate form (~300 nodes), whose
    per-iteration parse/analyze cost dominated the loop (measured 5.3s vs
    2.2s warm for the 16 iterations at sf0.1; weights bit-identical). The
    shuffle is ≤ N_W partial sums per map partition."""
    sig = f"{S} div 2 + (m * {S}) div (2 * ({S} + abs(m)))"
    arr = ", ".join(f"CAST({int(wi)} AS BIGINT)" for wi in w)
    return (
        f"SELECT j, CAST(SUM((xj * r) div {S}) AS BIGINT) AS g FROM ("
        f"  SELECT posexplode(xa) AS (j, xj),"
        f"         CAST(y AS BIGINT) * {S} - ({sig}) AS r FROM ("
        f"    SELECT xa, y, aggregate(zip_with(xa, array({arr}),"
        f"      (a, b) -> (a * b) div {S}), CAST(0 AS BIGINT),"
        f"      (acc, t) -> acc + t) AS m FROM {view}))"
        f" GROUP BY j"
    )


def open_dense(sc, dense: DataFrame) -> tuple[int, str]:
    """Loop setup in scope ``sc`` → (n_rows, view): persist and count the
    dense relation, lay it out, bind its view, pin AQE off."""
    dense = sc.persist(dense)
    n_rows = dense.count()
    if n_rows == 0:
        raise ValueError("empty training split for quality_lr")
    # iteration-relation layout is DATA-derived, not a local[32]
    # constant: ~100k one-row-per-doc rows (≈30 MB of dense arrays) per
    # partition. At fixture scale that collapses the 32 near-empty
    # cached partitions (AQE's parallelismFirst floors post-shuffle
    # coalescing at the default parallelism) into 1, so each of the 16
    # iteration jobs schedules 2 tasks instead of 33; at corpus scale
    # the same rule leaves thousands of partitions.
    parts = max(1, min(dense.rdd.getNumPartitions(), 1 + n_rows // 100_000))
    it_rel = dense.coalesce(parts) if parts < dense.rdd.getNumPartitions() else dense
    view = sc.view(it_rel, "qlr_dense")
    # AQE off, width untouched: every iteration's shuffle is D+2 longs
    # per map partition into a single final reduce — nothing for AQE to
    # re-optimize at ANY scale, pure overhead on a 16-statement loop
    sc.pin()
    return n_rows, view


def train_logreg_dense(dense: DataFrame) -> list[int]:
    """The training loop proper, over the dense (doc_id, y, xa)
    relation (doc_dense). Each iteration is ONE job: margin, residual
    and per-feature gradient terms are map-side expressions with the
    current weights as literals, reduced by a single 34-column
    partial-combined global aggregate. No join, no doc-keyed shuffle,
    no sort anywhere in the loop — the round-11 build had to pin the
    per-iteration features⋈residuals join's strategy against the
    lesson-47 broadcast→SMJ cliff; the dense form removes the join (and
    with it the strategy decision) outright, and shuffles D+2 longs per
    map partition per iteration instead of a doc-keyed relation."""
    with scope(dense.sparkSession) as sc:
        n_rows, view = open_dense(sc, dense)
        w = [0] * N_W
        for _ in range(ITERS):
            rows = sc.spark.sql(gradient_sql(w, view)).collect()
            g = {r["j"]: int(r["g"] or 0) for r in rows}
            # Python // floors on negatives; SQL div truncates toward
            # zero — _tdiv keeps the driver-side update bit-identical to
            # the oracle's integer arithmetic
            w = [
                int(wi) + _tdiv(LR_NUM * g.get(j, 0), n_rows)
                for j, wi in enumerate(w)
            ]
        return w


def score_docs(docs: DataFrame, weights: list[int]) -> DataFrame:
    """(doc_id, score_scaled, keep) straight off the documents relation:
    σ_int of the margin under the given weights, keep = score ≥ S/2. One
    token pass into doc_stats, margin and sigmoid as map-side
    literal-weight arithmetic on the per-doc row — the serving path pays
    one explode + two chained aggregates and ZERO joins."""
    m = doc_stats(docs).select(
        "doc_id", F.expr(_XA_EXPR).alias("xa")
    ).select("doc_id", F.expr(_margin_expr(weights)).alias("m"))
    return m.select(
        "doc_id",
        _sigmoid_int("m").cast("bigint").alias("score_scaled"),
        (_sigmoid_int("m") >= S // 2).alias("keep"),
    )
