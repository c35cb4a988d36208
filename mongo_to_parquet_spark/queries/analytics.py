"""Statistical / BI analytics pack (round 4 widening).

Classical analytics the reference's consumers would otherwise take to a
warehouse: market-basket association rules, one-way ANOVA, Benford
first-digit auditing, autocorrelation, and truncated-exact EWMA smoothing.
Same discipline as every other family (SURVEY §2.3 header): declarative
DataFrame plans, oracle-exact determinism, a 100 TB scale note per query.

Heritage: the reference has none of this (single-collection ETL,
reference main.py:287-309); these extend the analytics surface over the
exported tables.

Cross-engine exactness notes used below (queries/__init__ docstring):
  - sufficient statistics accumulate in Spark DECIMAL(38,0) / DuckDB
    HUGEINT (exact, order-free), convert ONCE to double, then evaluate an
    IDENTICAL expression tree on both engines (q_stats_regression pattern);
  - any double sum whose operand count exceeds one row per group is
    replaced by an ORDERED left fold (sort_array+aggregate / list(ORDER
    BY)+list_reduce) so IEEE addition order is pinned on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mongo_to_parquet_spark.operators.dedup import _basket_pairs
from mongo_to_parquet_spark.sources.catalog import load_table as T
from mongo_to_parquet_spark.queries._registry import make_registry

QUERIES, ORACLE, q = make_registry()


# ------------------------------------------------- association rules ------
@q(
    "q_assoc_rules",
    """
    WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM ob),
    ic AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM ob GROUP BY b),
    pc AS (SELECT a.b AS u, c.b AS v, CAST(COUNT(*) AS BIGINT) AS pair_cnt
           FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
           GROUP BY a.b, c.b),
    rules AS (SELECT u AS antecedent, v AS consequent, pair_cnt FROM pc
              UNION ALL
              SELECT v AS antecedent, u AS consequent, pair_cnt FROM pc)
    SELECT antecedent, consequent, pair_cnt,
           ia.cnt AS ante_cnt, ib.cnt AS cons_cnt, n.n_baskets,
           ROUND(CAST(pair_cnt AS DOUBLE) / CAST(n.n_baskets AS DOUBLE), 4)
               AS support,
           ROUND(CAST(pair_cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 4)
               AS confidence,
           ROUND((CAST(pair_cnt AS DOUBLE) * CAST(n.n_baskets AS DOUBLE))
                 / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)), 4)
               AS lift
    FROM rules
    JOIN ic ia ON rules.antecedent = ia.b
    JOIN ic ib ON rules.consequent = ib.b
    CROSS JOIN n
    WHERE pair_cnt * 100 >= n.n_baskets
    ORDER BY lift DESC, antecedent, consequent LIMIT 20
    """,
)
def q_assoc_rules(spark, sf):
    # Market-basket association rules over order baskets (basket = the
    # distinct part brands in one order): top-20 rules A=>B with >=1%
    # support, scored by support/confidence/lift. The oracle states pair
    # counting as the O(basket^2) self-join; the engine never self-joins:
    # each order's distinct brands are collected into ONE sorted array
    # (collect_set dedupes in-agg) and ordered pairs are generated
    # map-side (dedup._basket_pairs, the q_graph_triangles edge build —
    # one groupBy(order) shuffle replaces the self-join's two).
    #
    # Scale: the fact shuffles exactly once (groupBy order); per-basket
    # pair fan-out is O(basket^2) with basket = items per order — data-
    # bounded, not corpus-bounded, so no skew hazard. Item counts and the
    # basket total are O(#brands) and O(1); both re-join broadcast. The
    # 1%-support threshold is evaluated as integer pair_cnt*100 >= N —
    # no float at the cut boundary. Brand dim attach is a broadcast of
    # the slim (partkey, brand) projection.
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = T(spark, sf, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b")
    )
    baskets = ob.groupBy("ok").agg(F.sort_array(F.collect_set("b")).alias("bs"))
    pairs = (
        _basket_pairs(baskets, "bs")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    ic = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    # both rule directions from ONE pass over the counted pairs — a
    # union of two selects would duplicate the whole pairs subtree in
    # the static plan (AQE ReuseExchange repairs it at runtime, but the
    # single-Generate form needs no repairing)
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("antecedent"), F.col("v").alias("consequent")
                ),
                F.struct(
                    F.col("v").alias("antecedent"), F.col("u").alias("consequent")
                ),
            )
        ).alias("r"),
        "pair_cnt",
    ).select("r.antecedent", "r.consequent", "pair_cnt")
    ia = F.broadcast(ic.select(F.col("b").alias("antecedent"), F.col("cnt").alias("ante_cnt")))
    ib = F.broadcast(ic.select(F.col("b").alias("consequent"), F.col("cnt").alias("cons_cnt")))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        rules.join(ia, "antecedent")
        .join(ib, "consequent")
        .crossJoin(F.broadcast(n))
        .filter(F.col("pair_cnt") * 100 >= F.col("n_baskets"))
        .select(
            "antecedent",
            "consequent",
            "pair_cnt",
            "ante_cnt",
            "cons_cnt",
            "n_baskets",
            F.round(d("pair_cnt") / d("n_baskets"), 4).alias("support"),
            F.round(d("pair_cnt") / d("ante_cnt"), 4).alias("confidence"),
            F.round(
                (d("pair_cnt") * d("n_baskets")) / (d("ante_cnt") * d("cons_cnt")), 4
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(20)
    )


# ---------------------------------------------------- one-way ANOVA -------
@q(
    "q_stats_anova",
    """
    WITH t AS (SELECT l_returnflag AS flag,
                      CAST(l_quantity AS BIGINT) - 25 AS x
               FROM lineitem),
    g AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS ng,
                 SUM(CAST(x AS HUGEINT)) AS sg,
                 SUM(CAST(x AS HUGEINT) * x) AS qg
          FROM t GROUP BY flag),
    a AS (SELECT CAST(SUM(ng) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS k_groups,
                 CAST(SUM(ng) AS DOUBLE) AS nd,
                 CAST(SUM(sg) AS DOUBLE) AS sd,
                 CAST(SUM(qg) AS DOUBLE) AS qd,
                 CAST(COUNT(*) AS DOUBLE) AS kd,
                 list_reduce(
                     list((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                          * CAST(sg AS DOUBLE) ORDER BY flag),
                     (x, y) -> x + y) AS tt
          FROM g)
    SELECT n_rows, k_groups,
           ROUND(tt - (sd / nd) * sd, 4) AS ssb,
           ROUND(qd - tt, 4) AS ssw,
           ROUND(((tt - (sd / nd) * sd) / (kd - 1))
                 / ((qd - tt) / (nd - kd)), 4) AS f_stat,
           ROUND((tt - (sd / nd) * sd) / (qd - (sd / nd) * sd), 4) AS eta_sq
    FROM a
    """,
)
def q_stats_anova(spark, sf):
    # One-way ANOVA of l_quantity across return-flag groups: F statistic
    # + effect size (eta^2) from per-group sufficient statistics. x is
    # SHIFTED by the integer constant 25 (~ the quantity mean) before
    # accumulating — ANOVA is shift-invariant, and centering keeps the
    # exact integer sums (and their squares) small enough that the
    # sufficient statistics stay far from the 128-bit ceiling at any
    # realistic scale. Doubles appear ONCE, after aggregation; the only
    # multi-operand double sum (sum over groups of Sg^2/ng) is an ORDERED
    # left fold over the flag-sorted group list, so IEEE addition order —
    # and hence the unrounded intermediate — is identical on both engines
    # (init 0.0 + t1 == t1 exactly, so Spark's init-carrying fold matches
    # DuckDB's initless list_reduce).
    #
    # Scale: one partial-aggregated groupBy over the fact produces k rows
    # of fixed-width integer state; everything after is O(k) driver-size
    # arithmetic in a single final agg. No second scan, no window.
    li = T(spark, sf, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_quantity").cast("bigint") - 25).alias("x"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = t.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(dec(F.col("x"))).alias("sg"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("qg"),
    )
    term = (F.col("sg").cast("double") / F.col("ng").cast("double")) * F.col(
        "sg"
    ).cast("double")
    a = g.select("flag", "ng", "sg", "qg", term.alias("term")).agg(
        F.sum("ng").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("ng").cast("double").alias("nd"),
        F.sum("sg").cast("double").alias("sd"),
        F.sum("qg").cast("double").alias("qd"),
        F.count(F.lit(1)).cast("double").alias("kd"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("flag", "term"))),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("tt"),
    )
    tt, sd, nd = F.col("tt"), F.col("sd"), F.col("nd")
    qd, kd = F.col("qd"), F.col("kd")
    ssb = tt - (sd / nd) * sd
    return a.select(
        "n_rows",
        "k_groups",
        F.round(ssb, 4).alias("ssb"),
        F.round(qd - tt, 4).alias("ssw"),
        F.round((ssb / (kd - 1)) / ((qd - tt) / (nd - kd)), 4).alias("f_stat"),
        F.round(ssb / (qd - (sd / nd) * sd), 4).alias("eta_sq"),
    )


# ------------------------------------------------- Benford digit audit ----
_BENFORD = {
    1: 0.3010, 2: 0.1761, 3: 0.1249, 4: 0.0969, 5: 0.0792,
    6: 0.0669, 7: 0.0580, 8: 0.0512, 9: 0.0458,
}
_BENFORD_VALUES = ", ".join(f"({d}, {s})" for d, s in _BENFORD.items())

@q(
    "q_stats_benford",
    f"""
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM c GROUP BY 1),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM obs),
    exp AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) v(digit, benford_share))
    SELECT exp.digit, COALESCE(cnt, 0) AS cnt,
           ROUND(CAST(COALESCE(cnt, 0) AS DOUBLE)
                 / CAST(n_rows AS DOUBLE), 4) AS obs_share,
           benford_share,
           ROUND((CAST(COALESCE(cnt, 0) AS DOUBLE) / CAST(n_rows AS DOUBLE))
                 / benford_share, 4) AS excess_ratio
    FROM exp LEFT JOIN obs ON exp.digit = obs.digit CROSS JOIN n
    ORDER BY exp.digit
    """,
)
def q_stats_benford(spark, sf):
    # Benford's-law first-digit audit of order totals — the forensic
    # data-quality screen for fabricated/truncated numeric columns.
    # Observed first-significant-digit shares vs the Benford expectation
    # (log10(1+1/d), materialized as shared 4dp literals on BOTH engines
    # so no libm log enters any output — __init__ rule). First digit is
    # taken from the integer-cents string, so there is no float log/pow
    # anywhere; all nine digits are emitted even at zero count (LEFT
    # JOIN from the literal digit table).
    #
    # Scale: one partial-aggregated groupBy to 9 rows, then O(1)
    # broadcast assembly against the 9-row literal dim. Nothing else
    # touches the fact.
    o = T(spark, sf, "orders")
    obs = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
        )
        .groupBy(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # total via a global window over the 9-row census — NOT a second
    # aggregate branch, which would re-scan the fact (the subtrees
    # differ, so ReuseExchange cannot dedupe them)
    obs = obs.withColumn(
        "n_rows", F.sum("cnt").over(Window.partitionBy()).cast("bigint")
    )
    exp = spark.createDataFrame(
        [(d, s) for d, s in _BENFORD.items()], "digit bigint, benford_share double"
    )
    cnt = F.coalesce(F.col("cnt"), F.lit(0).cast("bigint"))
    share = cnt.cast("double") / F.col("n_rows").cast("double")
    return (
        F.broadcast(exp)
        .join(obs, "digit", "left")
        .withColumn("n_rows", F.max("n_rows").over(Window.partitionBy()))
        .select(
            "digit",
            cnt.alias("cnt"),
            F.round(share, 4).alias("obs_share"),
            "benford_share",
            F.round(share / F.col("benford_share"), 4).alias("excess_ratio"),
        )
        .orderBy("digit")
    )


# ----------------------------------------------------- autocorrelation ----
_ACF_LAGS = 7

@q(
    "q_ts_acf",
    f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               AS HUGEINT)) AS x
               FROM orders GROUP BY day),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
                 CAST(COUNT(*) AS BIGINT) AS n_days
          FROM d),
    c AS (SELECT day, n_days, n * x - sx AS dev FROM d CROSS JOIN s),
    l AS (SELECT n_days, dev,
                 {", ".join(f"lag(dev, {k}) OVER w AS l{k}" for k in range(1, _ACF_LAGS + 1))}
          FROM c WINDOW w AS (ORDER BY day)),
    a AS (SELECT MIN(n_days) AS n_days, SUM(dev * dev) AS den,
                 {", ".join(f"SUM(dev * l{k}) AS num{k}" for k in range(1, _ACF_LAGS + 1))}
          FROM l)
    {" UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, n_days, "
        f"ROUND(CAST(num{k} AS DOUBLE) / CAST(den AS DOUBLE), 4) AS acf FROM a"
        for k in range(1, _ACF_LAGS + 1)
    )}
    """,
)
def q_ts_acf(spark, sf):
    # Sample autocorrelation of the daily-revenue series at lags 1..7 —
    # the seasonality screen run before any forecasting model. Exact
    # fixed-point formulation: with S = sum(x), deviations are scaled to
    # integers as dev_t = n*x_t - S (the n^2 factor cancels in the
    # ratio), accumulated in DECIMAL(38,0)/HUGEINT, and each r_k =
    # sum(dev_t * dev_{t-k}) / sum(dev_t^2) becomes ONE int128->double
    # division, rounded 4dp. Domain bound: |dev| <= n*max_daily_cents
    # must square-sum under 1e38 — holds to ~1e5 days x 1e13 cents/day.
    #
    # Scale: the fact collapses to one row per day in a partial-
    # aggregated groupBy; the lag window's single global sort runs on
    # that day-sized series (O(years*365) rows — driver-small however
    # large the fact is), and the final agg is one row. Lagged products
    # with NULL (the first k rows) drop out of SUM on both engines.
    o = T(spark, sf, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("decimal(38,0)")
        ).alias("x")
    )
    s = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    c = d.crossJoin(F.broadcast(s)).select(
        "day", "n_days", (F.col("n") * F.col("x") - F.col("sx")).alias("dev")
    )
    w = Window.orderBy("day")
    lags = c.select(
        "n_days",
        "dev",
        *[F.lag("dev", k).over(w).alias(f"l{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    a = lags.agg(
        F.min("n_days").alias("n_days"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"l{k}")).alias(f"num{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("bigint").alias("lag"),
                F.col("n_days").alias("n_days"),
                F.round(
                    F.col(f"num{k}").cast("double") / F.col("den").cast("double"), 4
                ).alias("acf"),
            )
            for k in range(1, _ACF_LAGS + 1)
        ]
    )
    return a.select(F.explode(rows).alias("r")).select("r.lag", "r.n_days", "r.acf")


# ------------------------------------------------- truncated-exact EWMA ----
_EWMA_K = 16  # window length; weight of the i-th most recent point: 2^(K-1-i)

@q(
    "q_ts_ewma",
    f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS x_cents
               FROM orders GROUP BY day),
    l AS (SELECT day, x_cents,
                 {", ".join(f"lag(x_cents, {i}) OVER w AS g{i}" for i in range(_EWMA_K))}
          FROM d WINDOW w AS (ORDER BY day)),
    e AS (SELECT day, x_cents,
                 {" + ".join(f"COALESCE(CAST(g{i} AS HUGEINT), 0) * {1 << (_EWMA_K - 1 - i)}" for i in range(_EWMA_K))} AS num,
                 CAST({" + ".join(f"CASE WHEN g{i} IS NULL THEN 0 ELSE {1 << (_EWMA_K - 1 - i)} END" for i in range(_EWMA_K))} AS HUGEINT) AS den
          FROM l)
    SELECT CAST(day AS VARCHAR) AS day, x_cents,
           CAST((num * 20000 + den) // (den * 2) AS DOUBLE) / 10000.0 AS ewma
    FROM e
    """,
)
def q_ts_ewma(spark, sf):
    # Exponentially-weighted moving average (alpha = 1/2) of daily
    # revenue, truncated to the last 16 points so it is EXACT: with
    # power-of-two weights 2^15..2^0 the weighted numerator is a plain
    # integer sum (no float recursion to drift), normalized by the sum of
    # the weights actually present (so the series head uses its true
    # partial-window weighting rather than a damped start-up bias). The
    # dropped tail beyond 16 points carries < 2^-16 of the weight — below
    # the 4dp output grid for any series whose dynamic range is < 2^16.
    # One division int128 -> double at the end, rounded 4dp.
    #
    # Scale: same shape as q_ts_acf — the fact collapses to the day
    # series in one partial agg; the 16 lags share ONE window ordering
    # (single sort over O(days) rows, driver-small); per-row arithmetic
    # is a fixed 16-term integer expression. For per-key smoothing the
    # same window takes a partitionBy(key) and distributes freely.
    o = T(spark, sf, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("x_cents")
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "day",
        "x_cents",
        *[F.lag("x_cents", i).over(w).alias(f"g{i}") for i in range(_EWMA_K)],
    )
    num = None
    den = None
    for i in range(_EWMA_K):
        wt = 1 << (_EWMA_K - 1 - i)
        ni = F.coalesce(
            F.col(f"g{i}").cast("decimal(38,0)"), F.lit(0).cast("decimal(38,0)")
        ) * F.lit(wt).cast("decimal(38,0)")
        di = F.when(F.col(f"g{i}").isNull(), F.lit(0)).otherwise(F.lit(wt))
        num = ni if num is None else num + ni
        den = di if den is None else den + di
    lagged = lagged.withColumn("num", num).withColumn(
        "den", den.cast("decimal(38,0)")
    )
    # ISO string for the date output (cross-engine dtype rule — Spark
    # DATE surfaces as python objects, DuckDB as datetime64). The 4dp
    # rounding happens HALF-UP IN EXACT INTEGER SPACE — round(num/den, 4)
    # on the double quotient diverges between engines when the true
    # rational lands on a 4dp half-point (measured: ...7.83505 →
    # Spark .8351 / DuckDB .835); div(num*20000 + den, 2*den) is the
    # same half-up rule with no float anywhere, and the final
    # int→double / 10000.0 is the identical two-op tree on both engines.
    return lagged.select(
        F.col("day").cast("string").alias("day"),
        "x_cents",
        (
            F.expr("div(num * 20000 + den, den * 2)").cast("double") / 10000.0
        ).alias("ewma"),
    ).drop("num", "den")


# ------------------------------------------- seasonal decomposition -------
@q(
    "q_ts_seasonal",
    """
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS x
               FROM orders GROUP BY day),
    t AS (SELECT day, x,
                 SUM(CAST(x AS HUGEINT)) OVER w AS sum7,
                 COUNT(*) OVER w AS cnt7
          FROM d
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dev AS (SELECT CAST(isodow(day) AS BIGINT) AS dow,
                   7 * CAST(x AS HUGEINT) - sum7 AS dev7
            FROM t WHERE cnt7 = 7),
    g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
                 SUM(dev7) AS s
          FROM dev GROUP BY dow)
    SELECT dow, n_days,
           CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                * ((abs(s) * 20000 + 14 * n_days)
                   // (CAST(28 AS HUGEINT) * n_days)) AS BIGINT)
               AS seasonal_x10000
    FROM g ORDER BY dow
    """,
)
def q_ts_seasonal(spark, sf):
    # Classical seasonal decomposition, the weekday leg: seasonal index
    # per ISO weekday = mean deviation of daily revenue from its centered
    # 7-day moving trend. ENTIRELY integer: the deviation is scaled to
    # 7·x − sum7 (no division per row), the per-weekday mean
    # Σdev/(7·n) is rounded HALF-AWAY-FROM-ZERO in integer space
    # (sign·div(|s|·2·10⁴ + 7n, 2·7n)) and emitted as a ×10⁴ BIGINT —
    # zero float in the whole query, so nothing can drift between
    # engines (the q_ts_ewma lesson applied from the start; plain div()
    # would FLOOR negatives differently than DuckDB's // floors... both
    # floor, but half-up on negatives still needs the abs/sign split).
    # The trend spine is the OBSERVED day series (ROWS frame), identical
    # on both engines; head/tail days without a full 7-row window are
    # excluded (cnt7 = 7), the textbook centered-MA edge rule.
    #
    # Scale: the fact collapses to the day series in one partial agg;
    # the single ROWS window runs over O(days) rows (driver-small), and
    # the weekday aggregate is 7 rows. For per-key seasonality the same
    # window takes a partitionBy(key).
    o = T(spark, sf, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "x",
        F.sum(F.col("x").cast("decimal(38,0)")).over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
    )
    dev = t.filter(F.col("cnt7") == 7).select(
        (F.weekday("day") + 1).cast("bigint").alias("dow"),
        (F.lit(7).cast("decimal(38,0)") * F.col("x") - F.col("sum7")).alias("dev7"),
    )
    g = dev.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dev7").alias("s"),
    )
    g = g.withColumn("abss", F.abs(F.col("s"))).withColumn(
        "sgn", F.when(F.col("s") < 0, -1).otherwise(1)
    )
    return g.select(
        "dow",
        "n_days",
        (
            F.col("sgn")
            * F.expr("div(abss * 20000 + 14 * n_days, 28 * cast(n_days as decimal(38,0)))")
        )
        .cast("bigint")
        .alias("seasonal_x10000"),
    ).orderBy("dow")


# --------------------------------------------- two-sample KS test ----------
@q(
    "q_stats_ks",
    """
    WITH s AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    census AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM s GROUP BY v),
    n AS (SELECT CAST(SUM(a) AS BIGINT) AS n1,
                 CAST(SUM(b) AS BIGINT) AS n2 FROM census),
    cum AS (
        SELECT v,
               SUM(a) OVER (ORDER BY v) AS c1,
               SUM(b) OVER (ORDER BY v) AS c2
        FROM census),
    d AS (SELECT v,
                 ABS(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1) AS num
          FROM cum CROSS JOIN n),
    m AS (SELECT MAX(num) AS mnum FROM d)
    SELECT n.n1, n.n2,
           CAST(m.mnum AS BIGINT) AS ks_num,
           CAST((SELECT MIN(v) FROM d WHERE d.num = m.mnum) AS BIGINT)
               AS ks_at_cents,
           CAST(m.mnum * 10000 // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT)
               AS d_x10000
    FROM n CROSS JOIN m
    """,
)
def q_stats_ks(spark, sf):
    # Two-sample Kolmogorov–Smirnov test (urgent vs low-priority order
    # values) — the DISTRIBUTIONAL drift gate beside q_drift_psi's binned
    # PSI and q_stats_chi2's categorical χ²: D = max_v |F₁(v) − F₂(v)|
    # needs no binning choice at all. ENTIRELY integer: the ECDF gap is
    # kept as |c1·n2 − c2·n1| (common denominator n1·n2 cleared), the
    # max is exact, and D×10⁴ is one floor division at the end — no
    # float compare anywhere, so the argmax value cannot differ between
    # engines. The (max, argmax) pair comes from ONE aggregate over a
    # max-ordered struct (num DESC, then smallest v via negated v) —
    # tie-broken deterministically, no second pass over the gaps.
    # Domain bound: ks_num <= n1·n2 must fit int64 → safe to ~3·10⁹ rows
    # per sample; the 128-bit intermediates carry it beyond that and
    # only d_x10000 (<= 10⁴) survives to the output.
    #
    # Scale: the fact collapses to a (value, count, count) census in one
    # map-combined aggregate — cumulative sums then run over DISTINCT
    # values only. The prefix sum is TWO-PHASE: in-bucket window
    # (partitionBy value-range bucket — parallel) + bucket-offset window
    # over the ~O(domain/width) bucket census (driver-small) joined back
    # broadcast, so no global single-partition sort ever sees the census
    # (the distributed-prefix-sum shape; a global ORDER BY window would
    # funnel every distinct value through one task at 100 TB).
    o = T(spark, sf, "orders")
    s = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(2).alias("g"),
    )
    census = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("bigint").alias("b"),
    ).withColumn("bucket", F.expr("div(v, 1000000)"))
    w_in = Window.partitionBy("bucket").orderBy("v")
    cum_in = census.select(
        "v",
        "bucket",
        F.sum("a").over(w_in).alias("ca"),
        F.sum("b").over(w_in).alias("cb"),
    )
    totals = census.groupBy("bucket").agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob"),
    )
    n = totals.agg(
        F.sum("ta").cast("bigint").alias("n1"), F.sum("tb").cast("bigint").alias("n2")
    )
    d = (
        cum_in.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(n))
        .select(
            "v",
            "n1",
            "n2",
            F.abs(
                (F.col("ca") + F.col("oa")).cast("decimal(38,0)") * F.col("n2")
                - (F.col("cb") + F.col("ob")).cast("decimal(38,0)") * F.col("n1")
            ).alias("num"),
        )
    )
    best = d.groupBy("n1", "n2").agg(
        F.max(F.struct(F.col("num"), (-F.col("v")).alias("negv"))).alias("best")
    )
    return best.select(
        "n1",
        "n2",
        F.col("best.num").cast("bigint").alias("ks_num"),
        (-F.col("best.negv")).cast("bigint").alias("ks_at_cents"),
        F.expr("div(best.num * 10000, cast(n1 as decimal(38,0)) * n2)")
        .cast("bigint")
        .alias("d_x10000"),
    )


# ------------------------------------------------- Mann-Whitney U test -----
@q(
    "q_stats_mannwhitney",
    """
    WITH e AS (
        SELECT event_type AS t, value AS v FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    c AS (
        SELECT v,
               CAST(SUM(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nv,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM e GROUP BY v
    ),
    r AS (
        SELECT *, CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_prev
        FROM c
    ),
    s AS (
        SELECT CAST(SUM(nc) AS BIGINT) AS n1,
               CAST(SUM(nv) AS BIGINT) AS n2,
               CAST(SUM(nc * (2 * cum_prev + cnt + 1)) AS BIGINT) AS r1x2,
               CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS BIGINT) AS tie_t
        FROM r
    )
    SELECT n1, n2,
           (r1x2 - n1 * (n1 + 1)) AS u1_x2,
           (2 * n1 * n2 - (r1x2 - n1 * (n1 + 1))) AS u2_x2,
           tie_t,
           ROUND((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                           - CAST(tie_t AS DOUBLE)
                             / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))),
                 4) AS z
    FROM s
    """,
)
def q_stats_mannwhitney(spark, sf):
    # Mann-Whitney U (Wilcoxon rank-sum) comparing `value` between the
    # click and view cohorts — the nonparametric two-sample test a
    # quality pipeline runs when distributions are skewed and a t-test's
    # normality assumption fails. All rank arithmetic is INTEGER: joint
    # average ranks are kept DOUBLED (2*avg = 2*rank_min + cnt - 1, always
    # integral even at .5 ties), so rank sums, U1/U2 (reported ×2) and the
    # tie-correction term Σ(t³−t) are exact BIGINTs on both engines; only
    # the final tie-corrected z converts to double (identical expression
    # tree, ROUND 4 — the q_stats_regression discipline).
    #
    # The joint ranking is computed over the VALUE CENSUS (groupBy value →
    # cohort counts → running cumulative), never by ranking raw rows: the
    # window's global sort touches one row per DISTINCT value (bounded by
    # the 2dp value grid), not one per event — the same census trick as
    # q_stats_ks. Sanity invariant: u1_x2 + u2_x2 = 2*n1*n2 by
    # construction. Assumes both cohorts non-empty and not all values
    # tied (z's denominator > 0) — true of any fixture SF.
    #
    # Scale: one partial-aggregated groupBy over the events scan, then a
    # distinct-value-census window and a 1-row reduce. Map-side combine
    # carries the corpus; the sort is census-sized.
    e = T(spark, sf, "events").filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    )
    c = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("nv"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = c.withColumn(
        "cum_prev", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint")
    )
    s = r.agg(
        F.sum("nc").cast("bigint").alias("n1"),
        F.sum("nv").cast("bigint").alias("n2"),
        F.sum(F.col("nc") * (2 * F.col("cum_prev") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("r1x2"),
        # cnt promoted to decimal BEFORE cubing: a fully-tied census at
        # large SF overflows int64 inside the product, where the engines
        # diverge (DuckDB errors, Spark wraps)
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("bigint")
        .alias("tie_t"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    nd = n1d + n2d
    z = (
        u1x2.cast("double") / F.lit(2.0) - n1d * n2d / F.lit(2.0)
    ) / F.sqrt(
        n1d * n2d / F.lit(12.0)
        * ((nd + F.lit(1.0)) - F.col("tie_t").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    return s.select(
        "n1",
        "n2",
        u1x2.alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1x2).alias("u2_x2"),
        "tie_t",
        F.round(z, 4).alias("z"),
    )


# ------------------------------------------------- Spearman correlation ----
@q(
    "q_stats_spearman",
    """
    WITH t AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY x),
    rx AS (SELECT x, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS rx2
           FROM cx),
    cy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY y),
    ry AS (SELECT y, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + cnt + 1 AS ry2
           FROM cy),
    j AS (SELECT rx2, ry2 FROM t JOIN rx USING (x) JOIN ry USING (y)),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(rx2) AS DOUBLE) AS sx,
               CAST(SUM(ry2) AS DOUBLE) AS sy,
               CAST(SUM(rx2 * ry2) AS DOUBLE) AS sxy,
               CAST(SUM(rx2 * rx2) AS DOUBLE) AS sxx,
               CAST(SUM(ry2 * ry2) AS DOUBLE) AS syy,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM j
    )
    SELECT n_rows,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS rho
    FROM s
    """,
)
def q_stats_spearman(spark, sf):
    # Spearman rank correlation of quantity vs extended price — the
    # monotone-association check that survives outliers and nonlinear
    # scaling (Pearson on RANKS). Average ranks are kept DOUBLED so heavy
    # ties (quantity has ~50 distinct values) stay exact integers; the
    # Pearson-on-ranks form handles ties correctly where the 6Σd²
    # shortcut would not. Sufficient sums accumulate in Spark
    # DECIMAL(38,0) / DuckDB HUGEINT (rx2*ry2 sums pass 2^63 by sf1),
    # convert ONCE to double, then one identical expression tree, ROUND 4.
    #
    # Scale: the price census is NEARLY THE CORPUS (583k distinct of 600k
    # rows at sf0.1), so ranking must not funnel it through one global
    # window — midranks come from operators/ranks.doubled_midranks (the
    # two-level bucketed rank; plan rationale in that module docstring)
    # and join back onto the fact by value (broadcast for the 50-value
    # quantity census, shuffle for the price-sized one — AQE picks). The
    # oracle keeps the naive one-window census formulation: same ranks,
    # simpler SQL.
    li = T(spark, sf, "lineitem")
    # persist: three consumers (x census, y census, the rank join-back)
    # reach t through DIFFERENT projections, so AQE subtree reuse cannot
    # dedupe them — the measured persist rule (SURVEY §7 retro #map-side;
    # 2.53s → 2.12s at sf0.1 warm). Cleanup rides the caller's
    # clearCache, like the other persisting declared queries.
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    ).persist()

    from mongo_to_parquet_spark.operators.ranks import _moment_sums, doubled_midranks

    j = t.join(doubled_midranks(t, "x"), "x").join(doubled_midranks(t, "y"), "y")
    s = _moment_sums(j, "rx2", "ry2")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    rho = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select("n_rows", F.round(rho, 4).alias("rho"))


# ---------------------------------------------- Poisson bootstrap CI -------
# Truncated-Poisson(1) weights from TWO hex digits of md5 per replicate:
# cumulative pmf thresholds floor(P(X<=k) * 256) rendered ONCE here and
# interpolated into both dialects, so the constants cannot diverge.
# Weights cap at 5 (byte 0xff, mass 1/256 ≈ the true P(X>=5) = 0.0037 —
# a discretized Poisson; bootstrap validity needs iid nonneg integer
# weights with mean ≈ var ≈ 1, not the exact pmf). Two digits per
# replicate means ALL 32 replicate draws come from TWO md5 calls per row
# (64 hex chars), not 32 — at 100 TB the hash is the dominant cost of
# the whole bootstrap, so this is a 16x cut of the hot path (measured
# 3.05s -> 1.46s at sf0.1 warm; per-draw granularity 1/256 vs 1/16^6 is
# the only trade).
_POIS_T = ("5e", "bc", "eb", "fb", "ff")
_B = 32  # bootstrap replicates


def _pois_w(h: str) -> str:
    """Shared CASE text over a 2-hex-char expression ``h`` (valid in both
    dialects — interpolated into each, never duplicated by hand)."""
    return (
        f"CASE WHEN {h} < '{_POIS_T[0]}' THEN 0 "
        f"WHEN {h} < '{_POIS_T[1]}' THEN 1 "
        f"WHEN {h} < '{_POIS_T[2]}' THEN 2 "
        f"WHEN {h} < '{_POIS_T[3]}' THEN 3 "
        f"WHEN {h} < '{_POIS_T[4]}' THEN 4 ELSE 5 END"
    )


# replicate b reads hex chars [2b, 2b+2) of hash 1 (b < 16) or hash 2
_H_DUCK = (
    "CASE WHEN b.b < 16 THEN substr(h1, 2 * b.b + 1, 2) "
    "ELSE substr(h2, 2 * (b.b - 16) + 1, 2) END"
)
_H_SPARK = (
    "CASE WHEN b < 16 THEN substring(h1, 2 * b + 1, 2) "
    "ELSE substring(h2, 2 * (b - 16) + 1, 2) END"
)


@q(
    "q_stats_bootstrap",
    f"""
    WITH t AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               md5(concat('bootA:', CAST(o_orderkey AS VARCHAR))) AS h1,
               md5(concat('bootB:', CAST(o_orderkey AS VARCHAR))) AS h2
        FROM orders
    ),
    r AS (
        SELECT t.k, t.cents, b.b, {_pois_w(_H_DUCK)} AS w
        FROM t CROSS JOIN (SELECT unnest(range({_B})) AS b) AS b
    ),
    rep AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
               CAST(SUM(w * cents) AS BIGINT) AS s,
               CAST(SUM(cents) AS BIGINT) AS sc_b,
               CAST(COUNT(*) AS BIGINT) AS n_b
        FROM r GROUP BY b
    ),
    m AS (SELECT b, n_b, sc_b,
                 CAST((CAST(s AS HUGEINT) * 10000) // n_eff AS BIGINT) AS mean10k FROM rep)
    SELECT MAX(CASE WHEN b = 0 THEN n_b END) AS n_rows,
           CAST((CAST(MAX(CASE WHEN b = 0 THEN sc_b END) AS HUGEINT) * 10000)
                // MAX(CASE WHEN b = 0 THEN n_b END) AS BIGINT) AS mean_x10000,
           list_sort(list(mean10k))[2] AS ci_lo_x10000,
           list_sort(list(mean10k))[{_B - 1}] AS ci_hi_x10000
    FROM m
    """,
)
def q_stats_bootstrap(spark, sf):
    # Poisson bootstrap CI for the mean order value — THE scalable
    # bootstrap: classical resampling needs n draws per replicate
    # (a shuffle per replicate); the Poisson trick gives every (row,
    # replicate) an independent Poisson(1) multiplicity, so all B=32
    # replicates accumulate in ONE pass over the data, map-side. Weights
    # are deterministic md5-hex draws against truncated-Poisson
    # cumulative thresholds (hex-string compares — the md5-twin split/
    # sample discipline, no float RNG anywhere), with ALL 32 draws
    # sliced out of TWO per-row md5s (2 hex chars each) so the hash
    # count is O(rows), not O(rows x replicates); replicate means are
    # exact integer fixed-point (×10⁴, floor div — Spark `div` ≡ DuckDB
    # `//` on non-negatives); the 95% CI is the 2nd / 31st order
    # statistic of the 32 replicate means.
    #
    # Scale: the 32× expand is map-side (explode of a literal sequence);
    # the groupBy(b) shuffles 32 partial rows per partition — bootstrap
    # over 100 TB costs ONE scan plus a 32-row reduce (the unweighted
    # point estimate rides replicate 0's partials, no second scan). No
    # resampling shuffle exists in the plan.
    o = T(spark, sf, "orders")
    t = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.md5(F.concat(F.lit("bootA:"), F.col("o_orderkey").cast("string"))).alias("h1"),
        F.md5(F.concat(F.lit("bootB:"), F.col("o_orderkey").cast("string"))).alias("h2"),
    )
    r = t.select(
        "k",
        "cents",
        "h1",
        "h2",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    )
    rep = (
        r.withColumn("w", F.expr(_pois_w(_H_SPARK)))
        .groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("s"),
            # every replicate group holds EVERY row exactly once, so the
            # unweighted base statistics ride the same shuffle for free —
            # no second scan of the fact for the point estimate
            F.sum("cents").cast("bigint").alias("sc_b"),
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
        )
    )
    m = rep.select(
        "b",
        "n_b",
        "sc_b",
        F.expr("(cast(s as decimal(38,0)) * 10000) div n_eff").cast("bigint").alias("mean10k"),
    )
    # ONE final aggregation over the 32 replicate rows: the point
    # estimate reads replicate 0's pass-through stats, the CI reads order
    # statistics of the sorted replicate means — a single subtree, so the
    # fact is scanned exactly once (three separate 1-row branches would
    # each re-derive the aggregate through different projections, which
    # defeats subtree reuse and triples the scan)
    b0 = lambda c: F.max(F.when(F.col("b") == 0, F.col(c)))  # noqa: E731
    ms = F.sort_array(F.collect_list("mean10k"))
    return m.agg(
        b0("n_b").alias("n_rows"),
        b0("sc_b").alias("sc"),
        ms.alias("ms"),
    ).select(
        "n_rows",
        F.expr("(cast(sc as decimal(38,0)) * 10000) div n_rows").cast("bigint").alias("mean_x10000"),
        F.col("ms").getItem(1).alias("ci_lo_x10000"),
        F.col("ms").getItem(_B - 2).alias("ci_hi_x10000"),
    )


# ------------------------------------------------------- Welch's t-test ----
@q(
    "q_stats_ttest",
    """
    WITH e AS (
        SELECT event_type AS t, CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    s AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM e GROUP BY t
    ),
    w AS (
        SELECT MAX(CASE WHEN t = 'click' THEN n END) AS n1,
               MAX(CASE WHEN t = 'click' THEN sc END) AS sc1,
               MAX(CASE WHEN t = 'click' THEN scc END) AS scc1,
               MAX(CASE WHEN t = 'view' THEN n END) AS n2,
               MAX(CASE WHEN t = 'view' THEN sc END) AS sc2,
               MAX(CASE WHEN t = 'view' THEN scc END) AS scc2
        FROM s
    ),
    d AS (
        SELECT n1, n2,
               CAST(sc1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
               CAST(sc2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
               (CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) * CAST(sc1 AS DOUBLE)
                    / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
                   / CAST(n1 AS DOUBLE) AS se1sq,
               (CAST(scc2 AS DOUBLE) - CAST(sc2 AS DOUBLE) * CAST(sc2 AS DOUBLE)
                    / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
                   / CAST(n2 AS DOUBLE) AS se2sq
        FROM w
    )
    SELECT n1, n2,
           ROUND((m1 - m2) / sqrt(se1sq + se2sq), 4) AS t_stat,
           ROUND((se1sq + se2sq) * (se1sq + se2sq)
                 / (se1sq * se1sq / (CAST(n1 AS DOUBLE) - 1.0)
                    + se2sq * se2sq / (CAST(n2 AS DOUBLE) - 1.0)), 4) AS df
    FROM d
    """,
)
def q_stats_ttest(spark, sf):
    # Welch's unequal-variance t-test on the same click-vs-view contrast
    # as q_stats_mannwhitney — the parametric twin, so a pipeline can
    # report both and flag when they disagree (heavy skew). Values scale
    # to exact cents; n/Σc/Σc² accumulate as exact BIGINTs (order-free),
    # then ONE double conversion feeds an identical expression tree for
    # t and the Welch–Satterthwaite df, ROUND 4 (q_stats_regression
    # discipline). t is dimensionless — the cents scaling cancels between
    # the mean difference and the standard error, so no rescale exists.
    #
    # Scale: one partial-aggregated groupBy (2 rows out), then scalar
    # math on a 1-row relation. Map-side combine carries everything.
    e = T(spark, sf, "events").filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    )
    s = e.select(
        F.col("event_type").alias("t"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    ).groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    pick = lambda t, c: F.max(F.when(F.col("t") == t, F.col(c)))  # noqa: E731
    w = s.agg(
        pick("click", "n").alias("n1"),
        pick("click", "sc").alias("sc1"),
        pick("click", "scc").alias("scc1"),
        pick("view", "n").alias("n2"),
        pick("view", "sc").alias("sc2"),
        pick("view", "scc").alias("scc2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("sc1").cast("double") / n1d
    m2 = F.col("sc2").cast("double") / n2d
    se1sq = (
        (F.col("scc1").cast("double") - F.col("sc1").cast("double") * F.col("sc1").cast("double") / n1d)
        / (n1d - F.lit(1.0))
        / n1d
    )
    se2sq = (
        (F.col("scc2").cast("double") - F.col("sc2").cast("double") * F.col("sc2").cast("double") / n2d)
        / (n2d - F.lit(1.0))
        / n2d
    )
    d = w.select(
        "n1", "n2", m1.alias("m1"), m2.alias("m2"),
        se1sq.alias("se1sq"), se2sq.alias("se2sq"),
    )
    sesum = F.col("se1sq") + F.col("se2sq")
    return d.select(
        "n1",
        "n2",
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(sesum), 4).alias("t_stat"),
        F.round(
            sesum * sesum
            / (
                F.col("se1sq") * F.col("se1sq") / (F.col("n1").cast("double") - F.lit(1.0))
                + F.col("se2sq") * F.col("se2sq") / (F.col("n2").cast("double") - F.lit(1.0))
            ),
            4,
        ).alias("df"),
    )


# ---------------------------------------------- feature engineering --------
@q(
    "q_feat_hashing",
    """
    WITH tok AS (
        SELECT user_id, unnest([
            concat('type=', event_type),
            concat('k=', coalesce(CAST(json_extract(props, '$.k') AS VARCHAR), '<null>'))
        ]) AS token
        FROM events
    ),
    h AS (
        SELECT user_id,
               CAST(CAST(concat('0x', substr(md5(concat('fh:', token)), 1, 12))
                    AS BIGINT) % 16 AS INT) AS bucket,
               CASE WHEN substr(md5(concat('fh:', token)), 13, 1) < '8'
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, bucket,
           CAST(SUM(sgn) AS BIGINT) AS val
    FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0
    """,
)
def q_feat_hashing(spark, sf):
    # the hashing trick (feature hashing): categorical tokens map to a
    # FIXED k=16-dim signed feature space through a hash, so the feature
    # matrix never needs a vocabulary pass or a dictionary broadcast —
    # the unbounded-cardinality categorical encoder that works on 100 TB
    # streams. Bucket = md5 48-bit prefix mod 16 (Spark conv(hex,16,10) ≡
    # DuckDB CAST('0x'||hex) — the q_export_fixity identity), sign = the
    # 13th hex digit's top bit (the signed variant that makes collisions
    # cancel in expectation, per Weinberger et al.'s hashing-trick
    # construction). Output is the sparse (user, bucket, weight) triple
    # form; zero-weight cells are dropped like any sparse encoder drops
    # them.
    #
    # Scale: explode of a 2-element literal array (map-side), one
    # partial-agg shuffle keyed (user, bucket) — no vocabulary state
    # anywhere, which is the entire point of the trick.
    e = T(spark, sf, "events")
    toks = e.select(
        "user_id",
        F.explode(
            F.array(
                F.concat(F.lit("type="), F.col("event_type")),
                # coalesce BEFORE concat: Spark concat null-propagates
                # where DuckDB concat skips NULLs — a null props row
                # would silently diverge (the ADVICE-class null hazard)
                F.concat(
                    F.lit("k="),
                    F.coalesce(
                        F.get_json_object("props", "$.k").cast("string"),
                        F.lit("<null>"),
                    ),
                ),
            )
        ).alias("token"),
    )
    h = F.md5(F.concat(F.lit("fh:"), F.col("token")))
    bucket = (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") % 16).cast("int")
    sgn = F.when(F.substring(h, 13, 1) < "8", 1).otherwise(-1)
    return (
        toks.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            bucket.alias("bucket"),
            sgn.alias("sgn"),
        )
        .groupBy("user_id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )


@q(
    "q_feat_target_encode",
    """
    WITH l AS (
        SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    cf AS (
        SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_cf,
               CAST(SUM(y) AS BIGINT) AS s_cf
        FROM l GROUP BY cat, fold
    ),
    c AS (
        SELECT cat, CAST(SUM(n_cf) AS BIGINT) AS n_c,
               CAST(SUM(s_cf) AS BIGINT) AS s_c
        FROM cf GROUP BY cat
    )
    SELECT cf.cat, CAST(cf.fold AS BIGINT) AS fold, n_cf,
           CAST(((s_c - s_cf) * 10000) // (n_c - n_cf) AS BIGINT) AS enc_x10000
    FROM cf JOIN c USING (cat)
    WHERE n_c > n_cf
    ORDER BY cat, fold
    """,
)
def q_feat_target_encode(spark, sf):
    # out-of-fold target encoding: replace a categorical with the mean
    # label of OTHER folds' rows in the same category — the standard
    # high-cardinality encoder, built leakage-free by construction (a
    # row's own fold never contributes to its encoding; the repo's
    # q_split_leakage audit is the sibling check). Encodings are exact
    # ×10⁴ fixed point (floor div, Spark `div` ≡ DuckDB `//`).
    #
    # Scale: ONE partial-agg shuffle over the fact keyed (cat, fold);
    # the per-category totals re-aggregate the tiny census, and the
    # encode table (|cats|×|folds| rows) broadcasts back onto any fact
    # that applies it. No per-row state, no leakage.
    o = T(spark, sf, "orders")
    l = o.select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cf = l.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cf"),
        F.sum("y").cast("bigint").alias("s_cf"),
    )
    c = cf.groupBy("cat").agg(
        F.sum("n_cf").cast("bigint").alias("n_c"),
        F.sum("s_cf").cast("bigint").alias("s_c"),
    )
    return (
        cf.join(c, "cat")
        # a category confined to ONE fold has no out-of-fold rows: drop it
        # (no-op on the fixture) rather than divide by zero, where DuckDB
        # errors and Spark returns NULL — divergence, not just a bad value
        .filter(F.col("n_c") > F.col("n_cf"))
        .select(
            "cat",
            F.col("fold").cast("bigint").alias("fold"),
            "n_cf",
            F.expr("((s_c - s_cf) * 10000) div (n_c - n_cf)")
            .cast("bigint")
            .alias("enc_x10000"),
        )
        .orderBy("cat", "fold")
    )


# ------------------------------------------------ join-key skew diagnostic -
@q(
    "q_skew_diag",
    """
    WITH c AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY l_orderkey),
    g AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS k FROM c GROUP BY cnt),
    s AS (SELECT CAST(SUM(k) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt * k) AS BIGINT) AS n_rows,
                 CAST(MAX(cnt) AS BIGINT) AS max_cnt
          FROM g),
    cum AS (SELECT cnt, CAST(SUM(k) OVER (ORDER BY cnt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS ckeys
            FROM g)
    SELECT n_rows, n_keys, max_cnt,
           (SELECT MIN(cnt) FROM cum, s WHERE ckeys >= (n_keys + 1) // 2)
               AS p50_cnt,
           (SELECT MIN(cnt) FROM cum, s WHERE ckeys >= (99 * n_keys + 99) // 100)
               AS p99_cnt,
           CAST((max_cnt * 10000) // n_rows AS BIGINT) AS top_share_x10000
    FROM s
    """,
)
def q_skew_diag(spark, sf):
    # join-key skew diagnostic — the measurement behind the salting /
    # AQE-skew decision (q_join_salted and the AQE skew plan test are the
    # REMEDIES; this is the detector): the exact distribution of per-key
    # row counts for the dominant join key. Two nested aggregations
    # shrink the corpus to the COUNT-OF-COUNTS census (|distinct per-key
    # counts| rows — a handful, since counts repeat heavily), so the
    # exact p50/p99/max of the per-key distribution come from a tiny
    # census, never a corpus sort. Percentiles are order statistics over
    # keys: the smallest cnt whose cumulative key count reaches
    # ceil(q·n_keys), all in integer floor-div arithmetic.
    #
    # Scale: shuffle #1 carries (key, partial count) partials; shuffle #2
    # the per-cnt census. The final reduce collects the sorted census
    # into one struct array (the q_stats_bootstrap single-subtree shape —
    # one scan). This is the cheap pre-flight run BEFORE committing a
    # join strategy on an unknown 100 TB key.
    li = T(spark, sf, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    g = c.groupBy("cnt").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.withColumn("ckeys", F.sum("k").over(w).cast("bigint"))
    arr = F.sort_array(
        F.collect_list(
            F.struct(F.col("cnt").alias("cnt"), F.col("ckeys").alias("ckeys"))
        )
    )
    s = cum.agg(
        F.sum(F.col("cnt") * F.col("k")).cast("bigint").alias("n_rows"),
        F.sum("k").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        arr.alias("a"),
    )

    def pick(target):
        return F.element_at(
            F.filter(F.col("a"), lambda x: x["ckeys"] >= target), 1
        )["cnt"]

    return s.select(
        "n_rows",
        "n_keys",
        "max_cnt",
        pick(F.expr("(n_keys + 1) div 2")).alias("p50_cnt"),
        pick(F.expr("(99 * n_keys + 99) div 100")).alias("p99_cnt"),
        F.expr("(max_cnt * 10000) div n_rows").cast("bigint").alias("top_share_x10000"),
    )


# ----------------------------------------------- range-partition planning ---
_PB_N = 16  # target partition count


@q(
    "q_partition_bounds",
    f"""
    WITH census AS (
        SELECT l_orderkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_orderkey
    ),
    cum AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v) AS cc,
               SUM(cnt) OVER () AS n
        FROM census
    ),
    idx AS (SELECT unnest(generate_series(1, {_PB_N - 1})) AS i)
    SELECT CAST(i AS BIGINT) AS bound_idx,
           CAST((i * n + {_PB_N} - 1) // {_PB_N} AS BIGINT) AS target_rank,
           CAST(MIN(v) AS BIGINT) AS boundary
    FROM cum CROSS JOIN idx
    WHERE cc >= (i * n + {_PB_N} - 1) // {_PB_N}
    GROUP BY i, n
    """,
)
def q_partition_bounds(spark, sf):
    # EQUI-DEPTH range-partition planning — the boundary table behind
    # repartitionByRange / range-clustered exports, computed EXACTLY:
    # boundary_i = the smallest key whose cumulative count reaches
    # ⌈i·n/N⌉ (type-1 quantiles). Spark samples to pick its range
    # boundaries (RangePartitioner reservoir); this is the deterministic
    # planner you run ONCE on the census when the layout must be
    # reproducible (sorted export file boundaries, bucket pruning docs).
    #
    # Scale: the corpus collapses to its KEY CENSUS first (ONE
    # map-combined scan — |keys| rows, persisted), then every boundary
    # is a WEIGHTED exact_ranks_smallest rank over the census — histogram
    # refinement with the census counts as weights, ≤3 map-combined
    # passes shared by all boundaries, driver state = a bucket histogram
    # per distinct window. No
    # cumulative window: an UNPARTITIONED running sum over the key
    # census would be a single task holding every distinct key (the
    # spearman lesson — the census here GROWS with the data, unlike
    # q_quality_len_adaptive's bounded per-lang value census). The
    # oracle keeps the window form — DuckDB replays semantics, not the
    # distributed plan.
    from mongo_to_parquet_spark.operators.scope import scope
    from mongo_to_parquet_spark.operators.validate import exact_ranks_smallest

    li = T(spark, sf, "lineitem")
    with scope(spark) as sc:
        census = sc.persist(  # the shared-round rank probes
            li.groupBy(F.col("l_orderkey").alias("v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt")
            )
        )
        n = census.agg(F.sum("cnt")).collect()[0][0]
        targets = {i: (i * n + _PB_N - 1) // _PB_N for i in range(1, _PB_N)}
        # ONE multi-rank probe: every refinement round is a single census
        # scan serving all N−1 boundaries (vs N−1 sequential 3-scan probes
        # — measured 14.9s → ~2s at sf0.1, and at 100 TB it is the
        # difference between ~4 and ~45 census passes)
        bounds = exact_ranks_smallest(
            census, "v", list(targets.values()), weight_col="cnt"
        )
    rows = [(i, t, bounds[t]) for i, t in targets.items()]
    return spark.createDataFrame(
        rows, "bound_idx bigint, target_rank bigint, boundary bigint"
    ).orderBy("bound_idx")


# the bounds oracle is embedded verbatim (the q_dedup_incremental
# derivation trick): one boundary definition gates plan AND layout
@q(
    "q_partition_apply",
    f"""
    WITH bounds AS ({ORACLE["q_partition_bounds"]}),
    census AS (
        SELECT l_orderkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_orderkey
    ),
    assigned AS (
        SELECT c.v, c.cnt, CAST(COUNT(b.boundary) AS BIGINT) AS bucket
        FROM census c LEFT JOIN bounds b ON b.boundary <= c.v
        GROUP BY c.v, c.cnt
    )
    SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi
    FROM assigned GROUP BY bucket
    """,
)
def q_partition_apply(spark, sf):
    # APPLY the equi-depth plan — the layout half q_partition_bounds
    # plans for: every row is assigned bucket = |{boundaries ≤ key}| (a
    # key equal to a boundary opens the next bucket, matching the
    # "smallest key reaching the target rank" boundary definition), and
    # the output is the per-bucket balance audit (n_rows, [lo, hi]) a
    # sorted-export job publishes next to its files. Closes the
    # plan→apply loop the way bpe_train→bpe_apply does.
    #
    # Scale: the 15 boundaries are a driver-sized pick (the census
    # exception) folded into a map-side codegen'd array filter — bucket
    # assignment costs ZERO joins and ZERO shuffles beyond the census
    # aggregate itself; the audit is a 16-group aggregate. This is
    # exactly what repartitionByRange does with SAMPLED bounds — here
    # the bounds are exact and reproducible.
    bounds = [
        int(r["boundary"])
        for r in q_partition_bounds(spark, sf).collect()  # 15-row driver pick
    ]
    li = T(spark, sf, "lineitem")
    census = li.groupBy(F.col("l_orderkey").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    barr = F.array(*[F.lit(b) for b in bounds])
    bucket = F.size(F.filter(barr, lambda b: b <= F.col("v"))).cast("bigint")
    return (
        census.select(bucket.alias("bucket"), "v", "cnt")
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.min("v").cast("bigint").alias("lo"),
            F.max("v").cast("bigint").alias("hi"),
        )
    )
