"""MongoDB source — the reference's R1 scan via the Spark Mongo connector.

The reference iterates a pymongo cursor row-at-a-time (main.py:297-303).
Spark-first, the scan is the official MongoDB Spark connector
(``format("mongodb")``), which splits collections into partitions
(sample/shard-key based) and pushes ``$match``/``$project`` down — replacing
the reference's single-threaded cursor AND its hand-built date-range
pushdown (main.py:288-293) with connector pushdown.

The connector jar is not present in this environment, so this module is
import-gated: ``read_collection`` raises a clear error when the format is
unavailable, and the rest of the engine (catalog/export/queries) never
depends on it. The DOCUMENTED jar-less Mongo ingestion route is the
``mongoexport`` extended-JSON DataSource (sources/extjson.py), verified
end-to-end — dump → scan → ExportJob → re-read — by the oracle-checked
``q_mongo_export`` query. ``ExportJob`` runs the reference's full
multi-collection job (main.py:241-309) against any table-providing
source, defaulting to the parquet fixture catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mongo_to_parquet_spark.config import JobConfig
from mongo_to_parquet_spark.sources.export import export_partitioned_observed


def read_collection(
    spark: SparkSession, uri: str, database: str, collection: str
) -> DataFrame:
    """Scan one MongoDB collection (reference R1, main.py:297-303)."""
    try:
        return (
            spark.read.format("mongodb")
            .option("spark.mongodb.read.connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .load()
        )
    except Exception as e:  # connector jar absent in this container
        raise NotImplementedError(
            "MongoDB Spark connector not on the classpath; add "
            "org.mongodb.spark:mongo-spark-connector to spark.jars.packages "
            "(full recipe: docs/mongo_live.md). Without the jar, read a "
            "mongoexport dump instead: spark.dataSource.register("
            "MongoExportDataSource) from sources/extjson, then "
            "spark.read.format(\"mongoexport\"), or the CLI's --source-dir "
            "with --source-format mongoexport (oracle-checked by "
            "q_mongo_export). "
            "All parquet sources work without it."
        ) from e


class ExportJob:
    """The reference's ``ExportJob.run`` (main.py:241-309), source-agnostic.

    The reference fans out one Python thread per database (main.py:266-273)
    because its cursor is single-threaded; on Spark each scan is already
    partition-parallel, so ``max_concurrent=1`` (default) submits
    collections sequentially and Spark's scheduler parallelizes their
    TASKS. That leaves cores idle when a config holds many SMALL
    collections (each job has fewer tasks than cores, and per-job
    scheduling/commit latency serializes); ``max_concurrent>1`` restores
    the reference's overlap Spark-first: a thread pool submits up to N
    collection exports at once under a FAIR scheduler pool, so short jobs
    interleave instead of queueing behind long ones. Threads only submit
    and block on Spark actions — the data path is identical, and per-
    collection totals are unchanged (tests/test_reference_semantics.py).

    ``reader`` maps a collection name to a DataFrame (defaults injection
    point for tests / parquet fixtures).
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: JobConfig,
        reader,
        max_concurrent: int = 1,
        logger=None,
        database: str = "",
        collection_exists=None,
    ):
        import logging

        self.spark = spark
        self.cfg = cfg
        self.reader = reader  # Callable[[str], DataFrame]
        self.max_concurrent = max(1, max_concurrent)
        # reference main.py:49-58 JSON-lines job log (joblog.create_logger);
        # default is the bare named logger — silent until a handler exists
        self.logger = logger or logging.getLogger("mongo_to_parquet")
        # reference main.py:295 qualifies the collection with the database
        # name; sources without a database notion leave this empty
        self.database = database
        # reference main.py:280-283: a configured collection absent from
        # the source is SKIPPED with a log line, not an error. None =
        # every configured collection is assumed present (old behavior).
        self.collection_exists = collection_exists  # Callable[[str], bool]

    def _export_one(self, coll: str, date_field: str) -> int:
        # reference main.py:295/309 START/END lifecycle lines — same msg
        # content: '{db}.{coll} | query={mongo filter doc}' /
        # '{db}.{coll} | documents=N', so a user's msg-content parser (not
        # just the JSON envelope, joblog.py) keeps working.
        qual = f"{self.database}.{coll}" if self.database else coll
        query: dict = {}
        if date_field:
            if self.cfg.start_date:
                query.setdefault(date_field, {})["$gte"] = self.cfg.start_date
            if self.cfg.end_date:
                query.setdefault(date_field, {})["$lte"] = self.cfg.end_date
        self.logger.info(f"START {qual} | query={query}")
        df = self.reader(coll)
        # reference layout: output_dir / db / collection / year=... when a
        # database is in play (main.py:112-117); file-backed sources have
        # no db notion and write output_dir / collection directly
        out = (
            f"{self.cfg.output_dir}/{self.database}/{coll}"
            if self.database
            else f"{self.cfg.output_dir}/{coll}"
        )
        # Observation-backed totals (export_partitioned_observed): the END
        # count comes from the write plan itself — the previous
        # read.parquet(out).count() re-scanned the entire export, a full
        # second pass over everything just written at 100 TB.
        metrics = export_partitioned_observed(
            df, out, date_field, start=self.cfg.start_date, end=self.cfg.end_date,
            max_rows_per_file=self.cfg.max_rows_per_file,
        )
        total = int(metrics["rows_written"])
        self.logger.info(f"END {qual} | documents={total}")
        return total

    def run(self) -> dict[str, int]:
        """Export every configured collection; returns rows written per
        collection (reference's R12 count observability, main.py:104,158).

        Reference lifecycle reproduced IN ORDER (main.py:276-285): the
        ``START DB`` banner first, then per-collection skip lines for
        configured-but-absent collections (main.py:283 — the reference
        checks inside the per-DB loop), the exports, and ``END DB`` only
        on SUCCESS — a crashed job must not log a completed-DB lifecycle
        to msg-content parsers. The file roll point follows the config
        (reference rolls at ``row_group_size × 10``, main.py:225) as a
        PER-WRITE option — never a session conf, which would race
        concurrent ExportJobs on the shared session.
        """
        if self.database:
            self.logger.info(f"START DB {self.database}")
        # CONFIG-FILE order, not sorted: the reference iterates the
        # date_collections dict as inserted (main.py:279), and users
        # order configs so big collections start first under overlap
        items = list(self.cfg.date_collections.items())
        if self.collection_exists is not None:
            present = []
            for coll, f in items:
                if self.collection_exists(coll):
                    present.append((coll, f))
                else:
                    where = f" in {self.database}" if self.database else ""
                    self.logger.info(
                        f"Collection {coll} not found{where}, skipping."
                    )
            items = present
        if self.max_concurrent == 1 or len(items) <= 1:
            totals = {coll: self._export_one(coll, f) for coll, f in items}
        else:
            from concurrent.futures import ThreadPoolExecutor

            sc = self.spark.sparkContext

            def submit(coll: str, date_field: str) -> int:
                # per-thread local property: jobs land in a FAIR pool so a
                # small collection's tasks interleave with a big one's
                sc.setLocalProperty("spark.scheduler.pool", "export")
                try:
                    return self._export_one(coll, date_field)
                finally:
                    sc.setLocalProperty("spark.scheduler.pool", None)

            with ThreadPoolExecutor(max_workers=self.max_concurrent) as pool:
                futures = {coll: pool.submit(submit, coll, f) for coll, f in items}
                totals = {coll: fut.result() for coll, fut in futures.items()}
        if self.database:
            self.logger.info(f"END DB {self.database}")
        return totals


def run_all_databases(
    cfg: JobConfig,
    list_databases,
    make_job,
    logger=None,
    max_workers: int = 6,
) -> dict[str, dict[str, int]]:
    """The reference's top-level ``ExportJob.run`` (main.py:250-273):
    select databases (include ∩ / exclude −), log the selection banner,
    and fan one worker per database over a thread pool (the reference
    pins ``max_workers=6``).

    ``list_databases()`` returns the server's database names (pymongo's
    ``list_database_names`` on the live path; injectable for tests);
    ``make_job(db_name)`` returns the per-database :class:`ExportJob`.
    Threads only submit Spark actions — DB-level overlap composes with
    each job's own ``max_concurrent`` collection overlap.

    Log-content parity: an empty selection warns ``No databases to
    process.`` and exports nothing (main.py:260-262); otherwise the
    ``Databases to process: {...}`` banner is emitted with Python set
    formatting like the reference's f-string over a set (main.py:264) —
    the reference's element ORDER is hash-seed nondeterministic, so the
    engine prints the sorted set literal (a legal rendering of the same
    set, stable for log diffing).
    """
    import logging
    from concurrent.futures import ThreadPoolExecutor

    log = logger or logging.getLogger("mongo_to_parquet")
    names = cfg.select_databases(list(list_databases()))
    if not names:
        log.warning("No databases to process.")
        return {}
    rendered = "{" + ", ".join(repr(n) for n in names) + "}"
    log.info(f"Databases to process: {rendered}")
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = {db: pool.submit(make_job(db).run) for db in names}
        return {db: fut.result() for db, fut in futures.items()}
