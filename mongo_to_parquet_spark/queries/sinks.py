"""Sink queries — the reference's export semantics end-to-end (SURVEY §2.3).

``q_sink_partitioned`` runs the real partitioned write (R4+R5: year/month/
day derivation, ``year=`` hive layout, ``year=unknown`` bucket, zstd) into
a scratch dir, re-reads the output, and returns per-partition counts. The
returned DataFrame is oracle-checked — the side effect itself is verified
by reading back what was written.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions.layout import zorder_oracle_expr, zorder_value
from mongo_to_parquet_spark.functions.sketch import fixity_batch, fixity_checksum
from mongo_to_parquet_spark.sources.catalog import load_table as T, scratch_dir
from mongo_to_parquet_spark.sources.export import export_partitioned
from mongo_to_parquet_spark.queries._registry import make_registry

QUERIES, ORACLE, q = make_registry()


@q(
    "q_sink_partitioned",
    """
    SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
           COUNT(*) AS cnt,
           COUNT(DISTINCT month(o_orderdate)) AS n_months
    FROM orders GROUP BY 1
    """,
)
def q_sink_partitioned(spark, sf):
    out = scratch_dir("sink_partitioned", sf)
    export_partitioned(T(spark, sf, "orders"), out, date_field="o_orderdate")
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("year").cast("string").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("month").alias("n_months"),
        )
    )


@q(
    "q_sink_formats",
    """
    SELECT fmt,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
    FROM (SELECT 'csv' AS fmt, o_totalprice, o_orderdate FROM orders
          UNION ALL SELECT 'json', o_totalprice, o_orderdate FROM orders
          UNION ALL SELECT 'orc', o_totalprice, o_orderdate FROM orders
          UNION ALL SELECT 'parquet', o_totalprice, o_orderdate FROM orders)
    GROUP BY fmt
    """,
)
def q_sink_formats(spark, sf):
    # multi-format sink/source round-trip: write orders to csv/json/orc/
    # parquet, read each back (text formats under the ORIGINAL schema — the
    # reader must not re-infer), and aggregate. Hash-matching the source
    # table proves every format preserves doubles (Java shortest-repr
    # round-trip) and ms timestamps end-to-end. Decimal-cast before SUM so
    # the result is addition-order-free.
    outroot = scratch_dir("sink_formats", sf)
    o = T(spark, sf, "orders")
    parts = None
    for fmt in ("csv", "json", "orc", "parquet"):
        path = os.path.join(outroot, fmt)
        w = o.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        r = spark.read.format(fmt)
        if fmt in ("csv", "json"):
            r = r.schema(o.schema)
        if fmt == "csv":
            r = r.option("header", "true")
        back = r.load(path).select(
            F.lit(fmt).alias("fmt"), "o_totalprice", "o_orderdate"
        )
        parts = back if parts is None else parts.unionByName(back)
    return parts.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"),
    )


@q(
    "q_mongo_export",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_totalprice,
           CAST(year(o_orderdate) AS VARCHAR) AS year,
           month(o_orderdate) AS month,
           day(o_orderdate) AS day,
           o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-03-01'
      AND o_orderdate <= TIMESTAMP '1995-03-31'
    """,
)
def q_mongo_export(spark, sf):
    # The reference's WHOLE pipeline end-to-end on Mongo-shaped input
    # (reference main.py:241-309), executed and oracle-verified: a
    # mongoexport extended-JSON dump ($oid/$date/$numberLong envelopes,
    # written from the orders fixture so DuckDB can check the result) →
    # the `mongoexport` Spark DataSource scan → ExportJob (config-driven
    # date range, inclusive both ends → date-part derivation → year=
    # hive layout) → re-read of the parquet it wrote. Hash-matching the
    # oracle proves the ingestion envelopes, the range filter, and the
    # partition routing are all lossless. This is the documented Mongo
    # ingestion route in this jar-less environment; sources/mongo.py's
    # connector scan slots into the same ExportJob reader seam.
    import datetime as dtm

    from mongo_to_parquet_spark.config import JobConfig
    from mongo_to_parquet_spark.sources.extjson import (
        MongoExportDataSource,
        write_extjson_lines,
    )
    from mongo_to_parquet_spark.sources.mongo import ExportJob

    root = scratch_dir("mongo_export", sf)
    os.makedirs(root, exist_ok=True)
    dump = os.path.join(root, "orders.jsonl")

    # fixture dump: one month of orders as extended-JSON lines (driver-side
    # write of a bounded slice — fixture generation, not a data-path collect)
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]
    rows = (
        T(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01"))
            & (F.col("o_orderdate") <= F.lit("1995-03-31"))
        )
        .select(*cols)
        .collect()
    )
    write_extjson_lines(
        dump,
        (
            {"_id": f"{r['o_orderkey']:024x}", **{c: r[c] for c in cols}}
            for r in rows
        ),
    )

    spark.dataSource.register(MongoExportDataSource)
    schema = (
        "_id string, o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string"
    )
    cfg = JobConfig(
        output_dir=os.path.join(root, "out"),
        date_collections={"orders": "o_orderdate"},
        start_date=dtm.datetime(1995, 3, 1),
        end_date=dtm.datetime(1995, 3, 31),
    )
    ExportJob(
        spark,
        cfg,
        reader=lambda coll: spark.read.format("mongoexport")
        .schema(schema)
        .load(os.path.join(root, f"{coll}.jsonl")),
    ).run()

    back = spark.read.parquet(os.path.join(cfg.output_dir, "orders"))
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("year").cast("string").alias("year"),
        "month",
        "day",
        "o_orderpriority",
    )


_Z = zorder_oracle_expr("a", "b", 8)


@q(
    "q_cluster_zorder",
    f"""
    WITH d AS (
        SELECT o_orderkey,
               o_custkey % 256 AS a,
               COALESCE(dayofyear(o_orderdate), 0) % 256 AS b
        FROM orders
    ), z AS (SELECT o_orderkey, a, b, {_Z} AS zval FROM d)
    SELECT zval // 256 AS z_bucket,
           COUNT(*) AS cnt,
           MIN(a) AS min_cust, MAX(a) AS max_cust,
           MIN(b) AS min_doy, MAX(b) AS max_doy
    FROM z GROUP BY 1
    """,
)
def q_cluster_zorder(spark, sf):
    # the z-order layout key (functions/layout.py) as a checkable query:
    # Morton-interleave (customer-bucket, day-of-year) and aggregate per
    # z-bucket (top 4 bits of each dimension). Each bucket's min/max spans
    # a <=16-wide rectangle in BOTH dimensions - the footer-stats locality
    # that export_zordered turns into two-dimensional file pruning at
    # 100 TB. Pure codegen'd integer bit math; nulls route to b=0 exactly
    # like the reference's unknown-date bucket (main.py:110).
    o = T(spark, sf, "orders")
    a = (F.col("o_custkey") % 256).cast("long")
    b = (F.coalesce(F.dayofyear("o_orderdate"), F.lit(0)) % 256).cast("long")
    return (
        o.select(
            a.alias("a"),
            b.alias("b"),
            zorder_value(a, b, 8).alias("zval"),
        )
        .select(F.expr("zval div 256").alias("z_bucket"), "a", "b")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("a").alias("min_cust"),
            F.max("a").alias("max_cust"),
            F.min("b").alias("min_doy"),
            F.max("b").alias("max_doy"),
        )
    )


@q(
    "q_join_bucketed",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE)
               AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_bucketed(spark, sf):
    # the shuffle-once-at-write-time layout as an end-to-end checkable
    # query: both fact tables are written bucketed+sorted by the join key
    # (export_bucketed), re-read through the catalog, and joined — the
    # SortMergeJoin runs with NO Exchange on either side (plan-asserted
    # in tests/test_plans.py; the layout contract itself in
    # tests/test_reference_semantics.py). At 100 TB this converts the
    # dominant recurring orders⋈lineitem shuffle into a one-time layout
    # decision — the write pays the single hash-distribution pass, every
    # subsequent join of the two tables is map-side. Bucket counts must
    # match on both sides (8 here; a real deployment sizes buckets so
    # bucket × file ≈ executor memory). Oracle = the same join on the
    # unbucketed source — bucketing is pure layout, rows are identical.
    from mongo_to_parquet_spark.sources.export import export_bucketed

    outroot = scratch_dir("bucketed", sf)
    # table names are SQL identifiers: no dots
    tag = os.path.basename(sf.rstrip("/")).replace(".", "_")
    names = {}
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bjoin_{tag}_{tbl}"
        export_bucketed(
            T(spark, sf, tbl), name, key,
            num_buckets=8, path=os.path.join(outroot, tbl),
        )
        names[tbl] = name
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
    )
    # merge hint: at fixture scale the optimizer would broadcast the
    # orders side, hiding the layout win; two 100 TB facts both exceed
    # any broadcast threshold, and SMJ-over-buckets is the plan the
    # layout exists for (zero Exchanges, asserted in tests/test_plans.py)
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            rev.cast("double").alias("revenue"),
        )
    )


@q(
    "q_schema_evolution",
    """
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                THEN '<pre-evolution>' ELSE o_orderpriority END AS priority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY priority ORDER BY priority
    """,
)
def q_schema_evolution(spark, sf):
    # Schema evolution on read — the Mongo-schemaless ingestion hazard
    # (the reference exports whatever fields each document has;
    # collections GROW fields over time): era-1 files are written
    # WITHOUT o_orderpriority, era-2 files with it, and one
    # mergeSchema read reconciles both vintages — missing columns
    # surface as NULLs, mapped to an explicit '<pre-evolution>' bucket.
    # The oracle never sees the files: it recomputes the same report
    # from the SOURCE table with the era split as a CASE, so a
    # hash-match proves the split write + merged read is lossless
    # (the q_mongo_export verification pattern).
    #
    # Scale: schema merging is a FOOTER-only operation (respectSummary
    # files aside, Spark samples file footers on the driver) — the data
    # path stays one scan + one map-combined aggregate; no rewrite of
    # old files is ever needed to add a column, which at 100 TB is the
    # difference between a metadata tick and a full-corpus migration.
    outroot = scratch_dir("schema_evo", sf)
    o = T(spark, sf, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    o.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(outroot, "era1"))
    o.filter(F.col("o_orderdate") >= cut).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(outroot, "era2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(outroot)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("priority")
    )


# ----------------------------------------- dynamic partition pruning -------
@q(
    "q_join_dpp",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    WHERE year(o_orderdate) >= 1997
    GROUP BY 1 ORDER BY 1
    """,
)
def q_join_dpp(spark, sf):
    # DYNAMIC partition pruning end-to-end — the feature that makes the
    # reference's own year-partitioned export layout (main.py:293-295,
    # reproduced by sources/export.export_partitioned) pay off for joins,
    # not just literal date filters: the fact is stored
    # partitionBy("year"), the probe filter lives on a DIM table (a date
    # dimension with a status column, only resolvable by READING the
    # dim), and Spark inserts a runtime dynamicpruning subquery into the
    # fact scan's PartitionFilters so only the dim-selected year
    # directories are read. Statically the fact filter is unknowable —
    # without DPP this scans every partition of 100 TB to join-discard
    # most of it; the plan assertion in tests/test_plans.py pins the
    # subquery's presence.
    #
    # The dim is derived (distinct years -> status 'recent' iff >= 1997)
    # and written to parquet so the optimizer sees an opaque source, not
    # a foldable literal; the oracle collapses dim+join to the equivalent
    # static predicate on the unpartitioned source table. Money sums in
    # exact cents (partition-ordering-free).
    outroot = scratch_dir("dpp", sf)
    o = T(spark, sf, "orders")
    fact_path = os.path.join(outroot, "orders_by_year")
    o.withColumn("year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("year").parquet(fact_path)
    dim_path = os.path.join(outroot, "dim_year")
    (
        o.select(F.year("o_orderdate").alias("year"))
        .where(F.col("year").isNotNull())
        .distinct()
        .select(
            "year",
            F.when(F.col("year") >= 1997, "recent").otherwise("old").alias(
                "status"
            ),
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("status") == "recent")
    return (
        fact.join(dim, "year")
        .groupBy(F.col("year").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            # accumulate in decimal so a 100 TB year matches DuckDB's
            # HUGEINT sum exactly instead of wrapping int64
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("yr")
    )


# ------------------------------------------------------ export fixity ------
@q(
    "q_export_fixity",
    """
    WITH t AS (
        SELECT year(o_orderdate) AS yr,
               CAST(concat('0x', substr(md5(concat_ws('|',
                       CAST(o_orderkey AS VARCHAR),
                       coalesce(CAST(o_orderdate AS VARCHAR), '<null>'),
                       o_orderstatus,
                       CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       o_orderpriority)), 1, 12)) AS BIGINT) AS v
        FROM orders
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum,
           TRUE AS export_match
    FROM t GROUP BY yr ORDER BY yr
    """,
)
def q_export_fixity(spark, sf):
    # fixity audit of a partitioned export — "is the copy byte-complete?"
    # without sorting or row-aligning 100 TB: every row contributes a
    # 48-bit md5-prefix integer (functions/sketch.fixity_batch; Spark
    # conv(hex,16,10) ≡ DuckDB CAST('0x'||hex)), summed per year
    # partition in exact integer space (DECIMAL(38,0)/HUGEINT) and
    # reduced mod 2^61-1 — an ORDER-INSENSITIVE checksum, so source and
    # export can be scanned in any partition order/parallelism. The engine audits its own export
    # (write → read back → compare per-partition count + checksum); the
    # oracle recomputes the SOURCE digest independently with export_match
    # pinned TRUE — a corrupt or lossy export flips the engine's flag (or
    # shifts its checksum) and fails the gate.
    #
    # A dropped row, duplicated row, or any field edit moves the sum with
    # collision probability ~2^-48 per partition; counts catch
    # cancellation-free cardinality drift. Cost: two map-side scans + two
    # years-sized partial-agg shuffles. No shuffle carries rows.
    payload = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(F.col("o_orderdate").cast("string"), F.lit("<null>")),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.col("o_orderpriority"),
    )

    def digest(df, yr_col):
        return fixity_batch(df, yr_col.cast("bigint"), payload).select(
            F.col("part").alias("yr"),
            "n_rows",
            fixity_checksum(F.col("vsum")).alias("checksum"),
        )

    o = T(spark, sf, "orders")
    outroot = scratch_dir("fixity", sf)
    o.withColumn("year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("year").parquet(outroot)
    src = digest(o, F.year("o_orderdate"))
    exp = digest(spark.read.parquet(outroot), F.col("year"))
    e = exp.select(
        F.col("yr").alias("e_yr"),
        F.col("n_rows").alias("e_n"),
        F.col("checksum").alias("e_ck"),
    )
    return (
        src.join(e, src.yr == e.e_yr, "full")
        .select(
            F.coalesce("yr", "e_yr").alias("yr"),
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            "checksum",
            (
                F.col("yr").isNotNull()
                & F.col("e_yr").isNotNull()
                & (F.col("n_rows") == F.col("e_n"))
                & (F.col("checksum") == F.col("e_ck"))
            ).alias("export_match"),
        )
        .orderBy("yr")
    )
