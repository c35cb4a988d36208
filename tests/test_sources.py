"""Round-2 source/sink additions: the mongoexport extended-JSON Python
DataSource and the observed (in-plan metrics) export."""

from __future__ import annotations

import datetime as dt
import json


EXT_ROWS = [
    {"_id": {"$oid": "65a1"}, "created_at": {"$date": "2020-06-01T12:30:00Z"},
     "n": {"$numberLong": "42"}, "price": {"$numberDouble": "1.5"},
     "name": "alpha", "tags": ["a", "b"]},
    {"_id": {"$oid": "65a2"}, "created_at": {"$date": {"$numberLong": "1716000000000"}},
     "n": {"$numberInt": "7"}, "price": 2.25, "name": "beta", "tags": []},
    {"_id": {"$oid": "65a3"}, "created_at": None, "n": None, "price": None,
     "name": "gamma", "tags": None},
]


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_mongoexport_source_unwraps_envelopes(spark, tmp_path):
    from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

    d = tmp_path / "dump"
    d.mkdir()
    _write_jsonl(d / "part0.jsonl", EXT_ROWS[:2])
    _write_jsonl(d / "part1.jsonl", EXT_ROWS[2:])
    spark.dataSource.register(MongoExportDataSource)
    df = (
        spark.read.format("mongoexport")
        .schema("_id string, created_at timestamp, n bigint, price double, name string")
        .load(str(d))
    )
    rows = {r["_id"]: r for r in df.collect()}
    assert rows["65a1"]["created_at"] == dt.datetime(2020, 6, 1, 12, 30)
    assert rows["65a1"]["n"] == 42 and rows["65a1"]["price"] == 1.5
    assert rows["65a2"]["created_at"] == dt.datetime.fromtimestamp(
        1716000000, dt.timezone.utc
    ).replace(tzinfo=None)
    assert rows["65a2"]["n"] == 7 and rows["65a2"]["price"] == 2.25
    assert rows["65a3"]["created_at"] is None and rows["65a3"]["n"] is None
    # one partition per file
    assert df.rdd.getNumPartitions() == 2


def test_mongoexport_decimal128_stays_exact(spark, tmp_path):
    """$numberDecimal (BSON Decimal128 — money) must bind losslessly to a
    DecimalType field; a float round-trip would corrupt the one BSON
    numeric type whose purpose is exact decimal representation."""
    from decimal import Decimal

    from mongo_to_parquet_spark.sources.extjson import (
        MongoExportDataSource,
        unwrap_extjson,
    )

    # 0.1 + 0.2-style values and a 20-significant-digit amount no double holds
    rows = [
        {"_id": {"$oid": "d1"}, "amount": {"$numberDecimal": "0.30"}},
        {"_id": {"$oid": "d2"}, "amount": {"$numberDecimal": "12345678901234567.89"}},
    ]
    assert unwrap_extjson(rows[0])["amount"] == Decimal("0.30")
    f = tmp_path / "dump.jsonl"
    _write_jsonl(f, rows)
    spark.dataSource.register(MongoExportDataSource)
    got = {
        r["_id"]: r["amount"]
        for r in spark.read.format("mongoexport")
        .schema("_id string, amount decimal(19,2)")
        .load(str(f))
        .collect()
    }
    assert got == {"d1": Decimal("0.30"), "d2": Decimal("12345678901234567.89")}


def test_mongoexport_source_schemaless_raw_mode(spark, tmp_path):
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

    f = tmp_path / "dump.jsonl"
    _write_jsonl(f, EXT_ROWS)
    spark.dataSource.register(MongoExportDataSource)
    df = spark.read.format("mongoexport").load(str(f))
    assert df.columns == ["doc"]
    names = sorted(
        r["name"] for r in df.select(F.get_json_object("doc", "$.name").alias("name")).collect()
    )
    assert names == ["alpha", "beta", "gamma"]


def test_mongoexport_roundtrip_through_export(spark, tmp_path):
    """The reference's whole pipeline on the new source: extended-JSON in,
    date-partitioned parquet out, unknown bucket for the null date."""
    from mongo_to_parquet_spark.sources.export import export_partitioned
    from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

    f = tmp_path / "dump.jsonl"
    _write_jsonl(f, EXT_ROWS)
    spark.dataSource.register(MongoExportDataSource)
    df = (
        spark.read.format("mongoexport")
        .schema("_id string, created_at timestamp, n bigint, name string")
        .load(str(f))
    )
    out = str(tmp_path / "out")
    export_partitioned(df, out, date_field="created_at")
    back = spark.read.parquet(out)
    assert back.count() == 3
    years = {r["year"] for r in back.select("year").collect()}
    assert years == {"2020", "2024", "unknown"}
    assert "_id" not in back.columns  # reference R3: _id dropped at export


def test_observed_export_returns_in_plan_metrics(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from mongo_to_parquet_spark.sources.catalog import load_table
    from mongo_to_parquet_spark.sources.export import export_partitioned_observed

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "obs")
    m = export_partitioned_observed(orders, out, date_field="o_orderdate")
    back = spark.read.parquet(out)
    assert m["rows_written"] == orders.count() == back.count()
    assert m["rows_unknown_year"] == 0  # fixture dates are all valid
    assert m["n_partitions"] == back.select("year").distinct().count()


def test_mongoexport_streaming_source_tails_new_files(spark, tmp_path):
    """The streaming twin of the mongoexport reader: new dump files become
    new micro-batches; restarts resume from the checkpoint with no dupes
    and no gaps — the jar-less analog of tailing a Mongo change feed."""
    import time

    from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

    dump = tmp_path / "dump"
    dump.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(MongoExportDataSource)

    def run():
        q = (
            spark.readStream.format("mongoexport")
            .schema("_id string, n bigint, name string")
            .load(str(dump))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    def mk(path, rows):
        _write_jsonl(path, rows)

    mk(dump / "part0.jsonl", [{"_id": {"$oid": "a1"}, "n": {"$numberLong": "1"}, "name": "one"}])
    mk(dump / "part1.jsonl", [{"_id": {"$oid": "a2"}, "n": {"$numberLong": "2"}, "name": "two"}])
    run()
    got = {r["_id"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {"a1": 1, "a2": 2}

    time.sleep(0.1)
    mk(dump / "part2.jsonl", [{"_id": {"$oid": "a3"}, "n": {"$numberLong": "3"}, "name": "three"}])
    run()  # restart: only the NEW file lands — no dupes, no gaps
    got = sorted((r["_id"], r["n"]) for r in spark.read.parquet(out).collect())
    assert got == [("a1", 1), ("a2", 2), ("a3", 3)]

    run()  # nothing new: no-op
    assert spark.read.parquet(out).count() == 3


def test_mongoexport_writer_roundtrip_and_overwrite(spark, tmp_path):
    # df.write.format("mongoexport") → dump dir → read back identically;
    # overwrite replaces the previous write's files (manifest-driven)
    import datetime as dt

    from pyspark.sql import Row

    from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource

    spark.dataSource.register(MongoExportDataSource)
    rows = [
        Row(_id="a1", n=7, price=1.5, name="x",
            created_at=dt.datetime(2024, 1, 1, 12, 0, 0, 250000)),
        Row(_id="a2", n=None, price=None, name=None, created_at=None),
    ]
    df = spark.createDataFrame(
        rows, "_id string, n long, price double, name string, created_at timestamp"
    )
    out = str(tmp_path / "dump")
    df.write.format("mongoexport").mode("append").save(out)
    back = (
        spark.read.format("mongoexport")
        .schema("_id string, n bigint, price double, name string, created_at timestamp")
        .load(out)
    )
    got = {r["_id"]: r for r in back.collect()}
    assert set(got) == {"a1", "a2"}
    assert got["a1"]["n"] == 7 and got["a1"]["price"] == 1.5
    # $date carries millisecond precision (mongoexport's own grain)
    assert got["a1"]["created_at"] == dt.datetime(2024, 1, 1, 12, 0, 0, 250000)
    assert got["a2"]["n"] is None and got["a2"]["created_at"] is None

    # overwrite: only the second write's rows survive
    df2 = spark.createDataFrame(
        [Row(_id="b1", n=1, price=0.5, name="y", created_at=None)],
        "_id string, n long, price double, name string, created_at timestamp",
    )
    df2.write.format("mongoexport").mode("overwrite").save(out)
    back2 = (
        spark.read.format("mongoexport")
        .schema("_id string, n bigint, price double, name string, created_at timestamp")
        .load(out)
    )
    assert [r["_id"] for r in back2.collect()] == ["b1"]

    # append accumulates onto the manifest
    df.write.format("mongoexport").mode("append").save(out)
    assert (
        spark.read.format("mongoexport").schema("_id string").load(out).count() == 3
    )


def test_mongoexport_reader_dates_are_utc_under_any_tz(tmp_path):
    """$date is an instant: both of its forms read back as the same UTC
    microseconds whatever the worker's TZ (a local-time reading moves
    2024-01-01T00:00Z to 05:00 in New York or into 2023 in Tokyo)."""
    import os
    import time

    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    from mongo_to_parquet_spark.sources.extjson import MongoExportReader, _FilePartition

    f = str(tmp_path / "dates.jsonl")
    _write_jsonl(f, [
        {"_id": {"$oid": "iso"}, "t": {"$date": "2024-01-01T00:00:00Z"}},
        {"_id": {"$oid": "ms"}, "t": {"$date": {"$numberLong": "1704067200000"}}},
    ])
    schema = StructType([StructField("_id", StringType()), StructField("t", TimestampType())])
    old = os.environ.get("TZ")
    try:
        for tz in ("America/New_York", "Asia/Tokyo"):
            os.environ["TZ"] = tz
            time.tzset()
            (batch,) = MongoExportReader(schema, {"path": f}).read(_FilePartition(f))
            assert batch.column("t").cast(pa.int64()).to_pylist() == [1704067200000000] * 2
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_mongoexport_reader_refuses_malformed_lines(tmp_path):
    """Input the per-row reader refused stays refused: a bare number in a
    timestamp field (Arrow would take it as microseconds) and two
    documents on one line (the chunk decoder would otherwise split them).
    Neither a bare number in a date field (days since the epoch) nor a
    fractional number in an integer field (truncated) is read silently:
    both raise a TypeError that names the field."""
    import pytest
    from pyspark.sql.types import DateType, LongType, StructField, StructType, TimestampType

    from mongo_to_parquet_spark.sources.extjson import MongoExportReader, _FilePartition

    def read(text, field):
        f = tmp_path / "bad.jsonl"
        f.write_text(text)
        schema = StructType([field])
        return list(MongoExportReader(schema, {"path": str(f)}).read(_FilePartition(str(f))))

    with pytest.raises(TypeError, match=r"not a \$date"):
        read('{"t": 1704067200000}\n', StructField("t", TimestampType()))
    with pytest.raises(ValueError, match="more than one document"):
        read('{"n": 1}, {"n": 2}\n', StructField("n", LongType()))
    with pytest.raises(TypeError, match=r"field 'd' holds 5, not a \$date"):
        read('{"d": 5}\n', StructField("d", DateType()))
    with pytest.raises(TypeError, match=r"field 'n' holds 1\.5, not a whole number"):
        read('{"n": 5.0}\n{"n": 1.5}\n', StructField("n", LongType()))
    (batch,) = read('{"n": 5.0}\n{"n": 6}\n', StructField("n", LongType()))
    assert batch.column("n").to_pylist() == [5, 6]  # whole floats read as before


def test_mongoexport_scan_never_imports_pandas(spark, tmp_path):
    """pa.array imports pandas through pyarrow's pandas shim, and every scan
    worker would keep it until the JVM exits; the scan assembles its columns
    from buffers instead. A fresh interpreter, because pytest's holds pandas."""
    import subprocess
    import sys
    from pathlib import Path

    from pyspark.sql.types import StructType

    repo = str(Path(__file__).resolve().parents[1])
    f = str(tmp_path / "all.jsonl")
    _write_jsonl(f, EXT_ROWS + [{
        "s": 7, "bin": "xy", "flag": True, "i8": 1, "i16": 2, "i32": 3,
        "f32": 0.5, "amount": {"$numberDecimal": "1.005"},
        "day": {"$date": "2024-01-01T00:00:00Z"}, "ntz": {"$date": "2024-01-01T00:00:00Z"},
        "m": {"k": ["v"]},
        "sub": {"a": {"$numberInt": "1"}, "b": [{"$date": "2020-01-01T00:00:00Z"}]},
    }, {}])
    schema = StructType.fromDDL(
        "_id string, created_at timestamp, n bigint, price double, name string, "
        "tags array<string>, s string, bin binary, flag boolean, i8 tinyint, i16 smallint, "
        "i32 int, f32 float, amount decimal(6,2), day date, ntz timestamp_ntz, v void, "
        "m map<string,array<string>>, sub struct<a: int, b: array<timestamp>>"
    )
    script = (
        f"import json, sys; sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql.types import StringType, StructField, StructType\n"
        "from mongo_to_parquet_spark.sources.extjson import MongoExportReader, _FilePartition\n"
        f"schema = StructType.fromJson(json.loads({schema.json()!r}))\n"
        "raw = StructType([StructField('doc', StringType())])\n"
        "rows = 0\n"
        "for s in (schema, raw):\n"
        f"    for b in MongoExportReader(s, {{'path': {f!r}}}).read(_FilePartition({f!r})):\n"
        "        rows += b.num_rows\n"
        "assert rows == 10, rows\n"
        "assert 'pandas' not in sys.modules, 'the scan imported pandas'\n"
    )
    subprocess.run([sys.executable, "-c", script], check=True, timeout=300)


def _equivalence_table():
    """(DDL, values as decoded, the same values as pa.array takes them)
    for every Spark type the scan maps to Arrow, alone and inside an
    array, a map and a struct, with nulls, all-null chunks and empty
    arrays and maps."""
    from decimal import Decimal

    t0, t1 = dt.datetime(2024, 1, 1, 12, 30, 0, 123456), dt.datetime(1960, 6, 1)
    scalars = [
        ("string", ["a", "ü", ""], None),
        ("string", [7, True, 1.5, Decimal("2.50"), t0],
         ["7", "true", "1.5", "2.50", str(t0)]),
        ("binary", ["xy", b"\x00z", ""], [b"xy", b"\x00z", b""]),
        ("boolean", [True, False, True], None),
        ("tinyint", [-128, 127, 5.0], [-128, 127, 5]),
        ("smallint", [-(2**15), 2**15 - 1, 0], None),
        ("int", [-(2**31), 2**31 - 1, Decimal("3")], [-(2**31), 2**31 - 1, 3]),
        ("bigint", [-(2**63), 2**63 - 1, 0], None),
        ("float", [0.1, 1e300, 2**24], None),
        ("double", [0.1, float("inf"), 2**53, True], [0.1, float("inf"), 2.0**53, 1.0]),
        ("decimal(6,2)", [Decimal("1.005"), Decimal("-0.015"), Decimal("NaN"), 12],
         [Decimal("1.00"), Decimal("-0.02"), None, Decimal("12.00")]),
        ("decimal(38,18)", [Decimal("12345678901234567890.123456789012345678"),
                            Decimal("-1E-18"), 0], [
            Decimal("12345678901234567890.123456789012345678"), Decimal("-1E-18"), Decimal(0)]),
        ("date", [t0, t1, dt.datetime(1969, 12, 31, 23, 59)], None),
        ("timestamp", [t0, t1, dt.datetime(1, 1, 1)], None),
        ("timestamp_ntz", [t0, t1, dt.datetime(9999, 12, 31, 23, 59, 59, 999999)], None),
        ("void", [None, None, None], None),
    ]
    for ddl, values, coerced in scalars:
        coerced = coerced or values
        v0, v1, v2 = values[:3]
        c0, c1, c2 = coerced[:3]
        yield ddl, [*values, None], [*coerced, None]
        yield ddl, [None, None], [None, None]
        yield f"array<{ddl}>", [[v0, None, v1], [], None, [v2]], [[c0, None, c1], [], None, [c2]]
        yield f"map<string,{ddl}>", [{"k": v0, "j": None}, {}, None, {"k": v2}], \
            [[("k", c0), ("j", None)], [], None, [("k", c2)]]
        yield f"struct<a: {ddl}, b: array<{ddl}>>", [{"a": v0, "b": [v1]}, None, {}, {"b": []}], \
            [{"a": c0, "b": [c1]}, None, {"a": None, "b": None}, {"a": None, "b": []}]
    yield "array<array<bigint>>", [[[1], None, []], [], None], None
    yield "map<string,struct<a: bigint>>", [{"k": {"a": 1}, "j": {}}, None], \
        [[("k", {"a": 1}), ("j", {"a": None})], None]
    yield "array<map<string,string>>", [[{}, None, {"k": "v"}], None], \
        [[[], None, [("k", "v")]], None]


def test_mongoexport_build_equals_pa_array_per_type(spark):
    """The scan's buffer-built columns equal what pa.array builds from the
    same (coerced) values, type by type and nested; and what pa.array
    refuses, the builder refuses too."""
    import pyarrow as pa
    import pytest
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    from mongo_to_parquet_spark.sources.extjson import _build

    n = 0
    for ddl, values, coerced in _equivalence_table():
        data_type = _parse_datatype_string(ddl)
        arrow_type = to_arrow_type(data_type)
        got = _build(list(values), data_type, arrow_type)
        got.validate(full=True)
        want = pa.array(coerced or values, arrow_type)
        assert got.equals(want), (ddl, values, got, want)
        n += 1
    assert n > 80

    refused = [
        ("bigint", True), ("tinyint", False), ("double", "1.5"), ("float", "x"),
        ("tinyint", 300), ("tinyint", -129), ("smallint", 2**15), ("int", -(2**31) - 1),
        ("bigint", 2**63), ("bigint", -(2**63) - 1), ("bigint", float("nan")),
        ("double", 2**53 + 1), ("float", -(2**24) - 1), ("boolean", 1),
        ("date", "2024-01-01"), ("timestamp", "2024-01-01T00:00:00Z"),
        ("timestamp_ntz", "2024-01-01"), ("binary", 5), ("void", 0),
        ("array<bigint>", 5), ("array<string>", {"a": "b"}), ("map<string,string>", ["k"]),
        ("map<bigint,string>", {"1": "v"}), ("struct<a: bigint>", 5),
        ("array<bigint>", [True]), ("struct<a: double>", {"a": "x"}),
    ]
    for ddl, value in refused:
        data_type = _parse_datatype_string(ddl)
        arrow_type = to_arrow_type(data_type)
        with pytest.raises((pa.ArrowException, TypeError, OverflowError)):
            pa.array([None, value], arrow_type)
        with pytest.raises((TypeError, OverflowError)):
            _build([None, value], data_type, arrow_type)


def test_mongoexport_writer_dates_are_utc_under_local_tz(tmp_path):
    """The writer formats the instant in UTC: under TZ=America/New_York a
    Spark timestamp of 2024-01-01T00:00Z must not come out as 19:00 the
    day before. Runs in a subprocess so the Python workers get that TZ."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    out = str(tmp_path / "dump")
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from mongo_to_parquet_spark import get_spark\n"
        "from mongo_to_parquet_spark.sources.extjson import MongoExportDataSource\n"
        "spark = get_spark('tz-writer', master='local[1]', shuffle_partitions=1)\n"
        "spark.dataSource.register(MongoExportDataSource)\n"
        "spark.sql(\"SELECT 'a1' AS _id, timestamp'2024-01-01 00:00:00' AS t\")"
        f".write.format('mongoexport').mode('append').save({out!r})\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "TZ": "America/New_York", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=600)
    (part,) = Path(out).glob("part-*.jsonl")
    assert json.loads(part.read_text()) == {
        "_id": {"$oid": "a1"}, "t": {"$date": "2024-01-01T00:00:00.000Z"},
    }


def test_run_query_cli_lists_and_runs(spark, sf_dir, capsys):
    from mongo_to_parquet_spark import run_query

    assert run_query.main(["--list"]) == 0
    listed = capsys.readouterr().out
    assert "q_agg_global\toracle" in listed
    assert run_query.main(["q_agg_global", "--sf-dir", sf_dir, "--json"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and '"cnt"' in out[0]
    assert run_query.main(["no_such_key"]) == 2


def test_live_mongo_roundtrip_gated(spark, tmp_path):
    """R1 against a REAL MongoDB (reference main.py:297-303), opt-in:
    requires MONGO_TEST_URI pointing at a reachable mongod AND the
    mongo-spark-connector jar on the session classpath — both absent in
    the sandbox image, so this skips there. Where the environment allows,
    it seeds a collection via pymongo and round-trips it through
    read_collection → ExportJob, closing the one ingestion route the
    mongoexport extended-JSON path (test above / q_mongo_export) cannot
    cover: the live connector scan."""
    import os

    import pytest

    uri = os.environ.get("MONGO_TEST_URI")
    if not uri:
        pytest.skip("MONGO_TEST_URI not set (live-Mongo smoke is opt-in)")
    pymongo = pytest.importorskip("pymongo")

    from mongo_to_parquet_spark.config import JobConfig
    from mongo_to_parquet_spark.sources.mongo import ExportJob, read_collection

    client = pymongo.MongoClient(uri, serverSelectionTimeoutMS=5000)
    db = client["m2p_smoke"]
    db.drop_collection("orders_smoke")
    db["orders_smoke"].insert_many(
        [
            {"o_orderkey": i, "o_orderdate": dt.datetime(1996 + i % 2, 1, 1 + i),
             "v": float(i)}
            for i in range(5)
        ]
    )
    try:
        read_collection(spark, uri, "m2p_smoke", "orders_smoke").count()
    except NotImplementedError:
        pytest.skip("mongo-spark-connector jar not on the classpath")

    cfg = JobConfig(
        output_dir=str(tmp_path / "out"),
        date_collections={"orders_smoke": "o_orderdate"},
    )
    totals = ExportJob(
        spark, cfg,
        reader=lambda c: read_collection(spark, uri, "m2p_smoke", c),
        database="m2p_smoke",
    ).run()
    assert totals["orders_smoke"] == 5
    back = spark.read.parquet(str(tmp_path / "out" / "orders_smoke"))
    assert back.count() == 5
    assert {"year", "month", "day"} <= set(back.columns)
    assert "_id" not in back.columns  # reference drops _id (main.py:107)
