"""Mongo extended-JSON lines source — a Spark 4 Python DataSource.

The reference's data comes out of MongoDB; its interchange format on disk
is ``mongoexport`` JSON lines, where BSON types that JSON can't express
are wrapped in ``$``-keyed envelopes::

    {"_id": {"$oid": "..."}, "created_at": {"$date": "2024-01-01T00:00:00Z"},
     "n": {"$numberLong": "42"}, "price": 1.5, "tags": ["a", "b"]}

``spark.read.json`` would surface those envelopes as structs and mangle
the types. This module registers a ``mongoexport`` format on the Spark 4
Python DataSource API (``pyspark.sql.datasource``) that unwraps the
common envelopes ($oid, $date, $numberLong/$numberInt/$numberDouble/
$numberDecimal) during the scan, so downstream operators see plain
Spark types — the ingestion twin of sources/mongo.py's (jar-gated) live
connector, with zero external dependencies. ``$numberDecimal``
(Decimal128) unwraps to ``decimal.Decimal``, never float — bind it to a
DecimalType schema field to keep money values exact.

``$date`` is an instant. On read it becomes a UTC instant: the scan hands
Spark ``timestamp[us, UTC]`` Arrow columns, so the worker's ``TZ`` never
shifts it. On write (``df.write.format("mongoexport")``) a Spark
timestamp is converted to UTC before it is formatted with ``Z``.
``unwrap_extjson``/``wrap_extjson`` speak naive datetimes that mean UTC.

Partitioning: one input partition per file (mongoexport shards dumps
into files; a 100 TB dump is many files, so file-granular parallelism is
the natural split — the same contract as Spark's own JSON source before
splittable compression). The reader is column-wise: it decodes chunks of
``CHUNK_LINES`` lines with one ``json.JSONDecoder`` whose ``object_hook``
unwraps each envelope as the C decoder builds it (the ``ENVELOPES``
table), then assembles each schema field's Arrow array from its buffers
(``_build``: a packed validity bitmap, int32 offsets, numpy data, child
arrays by recursion) and yields a ``pyarrow.RecordBatch``, which pyspark
passes through unchanged. There is no per-row tuple; Python touches a
single value only where numpy cannot (a decimal's rounding, a ``$date``'s
microseconds, a non-string coerced into a string field).

The scan never calls ``pa.array``: given a Python list it goes through
pyarrow's lazy pandas shim, which imports pandas, and a scan worker
(``pyspark.worker``) keeps what it imported, idle, until the JVM exits.
``Array.from_buffers``, ``py_buffer`` and ``nulls`` import nothing. On
the ``export`` benchmark at ``local[4]`` each scan worker holds 92 MB
where it held 124 MB with pandas. Plain stdlib decoding is the CPU floor:
on a 60k-document shard of 8 fields (4-core Xeon, median of 20 reads)
``json.loads`` per line takes 0.33 CPU-s of the scan's 0.77 CPU-s; the
``pa.array`` scan took 0.82 on the same host and shard, the per-row path 1.77.
Convert to parquet once (the reference's whole purpose) and never scan
the JSONL twice.

Usage::

    spark.dataSource.register(MongoExportDataSource)
    df = (spark.read.format("mongoexport")
          .schema("_id string, created_at timestamp, n bigint, price double")
          .load(path))
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
from itertools import chain, islice, repeat
from operator import is_not
from typing import TYPE_CHECKING, Iterable, Iterator

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

if TYPE_CHECKING:
    import pyarrow as pa

_EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)


def _date(inner) -> dt.datetime:
    # {"$date": {"$numberLong": ms}} arrives with its inner envelope
    # already unwrapped to an int
    if isinstance(inner, int):
        return _EPOCH + dt.timedelta(milliseconds=inner)
    s = str(inner)
    if s.endswith("Z"):  # mongoexport's own form: already UTC
        return dt.datetime.fromisoformat(s[:-1])
    out = dt.datetime.fromisoformat(s)
    return out.astimezone(dt.timezone.utc).replace(tzinfo=None) if out.tzinfo else out


# The one table of envelope rules: ``{key: inner}`` → plain value. Shared by
# the scan's decoder hook, unwrap_extjson and infer_extjson_schema.
ENVELOPES = {
    "$oid": str,
    "$date": _date,
    "$numberLong": int,
    "$numberInt": int,
    "$numberDouble": float,
    # Decimal128 exists precisely to carry exact decimals (money) — keep
    # exactness so a DecimalType schema field binds losslessly; a float
    # round-trip would corrupt the one type whose purpose is not being a float
    "$numberDecimal": lambda inner: decimal.Decimal(str(inner)),
}


def _unwrap_dict(d: dict):
    """A one-key envelope dict → its plain value; any other dict as is.
    Children are already unwrapped (the decoder builds inner dicts first)."""
    if len(d) == 1:
        for k in d:
            rule = ENVELOPES.get(k)
            if rule is not None:
                return rule(d[k])
    return d


_DECODER = json.JSONDecoder(object_hook=_unwrap_dict)


def unwrap_extjson(v):
    """Recursively unwrap mongoexport ``$``-envelopes to plain values
    (``$date`` → naive datetime in UTC), bottom-up like the scan's decoder."""
    if isinstance(v, dict):
        return _unwrap_dict({k: unwrap_extjson(x) for k, x in v.items()})
    if isinstance(v, list):
        return [unwrap_extjson(x) for x in v]
    return v


def wrap_extjson(v):
    """Inverse of :func:`unwrap_extjson`: plain Python values → mongoexport
    envelopes (ints → $numberLong, datetimes → $date, Decimal →
    $numberDecimal; floats/strings/None stay plain, like mongoexport).
    A naive datetime is taken as UTC; an aware one is converted to UTC."""
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return {"$numberLong": str(v)}
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return {"$date": v.isoformat(timespec="milliseconds") + "Z"}
    if isinstance(v, decimal.Decimal):
        return {"$numberDecimal": str(v)}
    if isinstance(v, list):
        return [wrap_extjson(x) for x in v]
    if isinstance(v, dict):
        return {k: wrap_extjson(x) for k, x in v.items()}
    return v


def write_extjson_lines(path: str, docs, id_field: str = "_id") -> int:
    """Write documents as a mongoexport-shaped JSONL file; returns count.

    Test/fixture helper for the ingestion round-trip (q_mongo_export):
    real dumps come from ``mongoexport`` itself; this produces the same
    shape so the scan path can be verified end-to-end without a mongod.
    Values under ``id_field`` are emitted as ``{"$oid": ...}``.
    """
    n = 0
    with open(path, "w", encoding="utf-8") as fh:
        for doc in docs:
            enc = {
                k: ({"$oid": str(v)} if k == id_field else wrap_extjson(v))
                for k, v in doc.items()
            }
            fh.write(json.dumps(enc) + "\n")
            n += 1
    return n


def _dump_files(path: str) -> list[str]:
    """The data files of a mongoexport dump: a directory's ``.json`` and
    ``.jsonl`` files (not ``_``/``.``-prefixed markers), sorted by name,
    or the one file ``path`` names."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith((".json", ".jsonl")) and not f.startswith(("_", "."))
    )


def infer_extjson_schema(spark, path: str, sample_rows: int = 1000):
    """Schema for a mongoexport dump from a bounded driver-side sample.

    Same posture as operators/nested.infer_json_schema: the sample is
    read once, envelopes are UNWRAPPED first (so ``$date`` infers as
    timestamp and ``$numberLong`` as bigint, not as structs), and the
    resulting schema is an explicit, reviewable artifact the caller pins —
    not the reference's silent first-batch freeze (main.py:212-218).
    """
    docs = []
    for fp in _dump_files(path):
        with open(fp, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    doc = _DECODER.decode(line)
                    if isinstance(doc, dict):
                        docs.append(doc)
                if len(docs) >= sample_rows:
                    break
        if len(docs) >= sample_rows:
            break
    if not docs:
        return StructType([])
    return spark.createDataFrame(docs).schema


CHUNK_LINES = 1024  # lines decoded per call and rows per Arrow batch


# numpy dtype per integer field, and per floating field with the largest
# int it holds exactly: as with pa.array, a bigger int is refused, not rounded
_INTS = {ByteType: np.int8, ShortType: np.int16, IntegerType: np.int32, LongType: np.int64}
_FLOATS = {FloatType: (np.float32, 2**24), DoubleType: (np.float64, 2**53)}


def _expect(kinds: set, values: list, allowed: set, what: str) -> None:
    """Raise TypeError on the first value whose type is not ``allowed``."""
    if not kinds <= allowed:
        bad = next(v for v in values if v is not None and type(v) not in allowed)
        raise TypeError(f"holds {bad!r}, not {what}")


def _whole(v):
    """``v`` as an int if it is a whole number (int, float or Decimal)."""
    if v is None or type(v) is int:
        return v
    try:
        i = int(v)
    except (ValueError, OverflowError):  # NaN, Infinity
        i = None
    if i is None or i != v:
        raise TypeError(f"holds {v!r}, not a whole number")
    return i


def _bitmap(bits) -> pa.Buffer:
    import pyarrow as pa

    return pa.py_buffer(np.packbits(bits, bitorder="little"))


def _offsets(lengths: Iterable[int], n: int) -> pa.Buffer:
    import pyarrow as pa

    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(np.fromiter(lengths, np.int64, n), out=offsets[1:])
    if offsets[-1] > 2**31 - 1:
        raise OverflowError("a chunk's column exceeds 2 GiB of offsets")
    return pa.py_buffer(offsets.astype(np.int32))


def _build(values: list, data_type, arrow_type: pa.DataType) -> pa.Array:
    """One column of a chunk as an Arrow array of ``arrow_type``, assembled
    from its buffers (``pa.array`` would import pandas, see the module
    docstring). ``values`` are decoded JSON values with envelopes
    unwrapped; the Spark ``data_type`` decides what each may be. Strings
    take any value as ``str(v)`` ("true"/"false" for bools), decimals are
    quantized half-even to the field's scale with ``NaN`` as null,
    timestamps and dates take only ``$date`` values (naive UTC). A value a
    field cannot hold raises TypeError; an integer outside the field's
    range, or an int a float field cannot hold exactly, OverflowError."""
    import pyarrow as pa

    kinds = set(map(type, values))
    kinds.discard(type(None))
    if isinstance(data_type, DecimalType) and decimal.Decimal in kinds:
        values = [None if type(v) is decimal.Decimal and v.is_nan() else v for v in values]
    valid = list(map(is_not, values, repeat(None)))
    n, nulls = len(values), valid.count(False)
    if nulls == n:
        return pa.nulls(n, arrow_type)
    validity = _bitmap(valid) if nulls else None
    children = None

    if isinstance(data_type, StringType):
        if not kinds <= {str}:
            values = [v if v is None or type(v) is str
                      else ("true" if v else "false") if type(v) is bool else str(v)
                      for v in values]
        strs = ["" if v is None else v for v in values] if nulls else values
        text = "".join(strs)
        if text.isascii():  # then each string's length is its byte length
            buffers = [_offsets(map(len, strs), n), pa.py_buffer(text.encode())]
        else:
            raw = [v.encode() for v in strs]
            buffers = [_offsets(map(len, raw), n), pa.py_buffer(b"".join(raw))]
    elif isinstance(data_type, BinaryType):
        _expect(kinds, values, {bytes, str}, "bytes")
        raw = [b"" if v is None else v.encode() if type(v) is str else v for v in values]
        buffers = [_offsets(map(len, raw), n), pa.py_buffer(b"".join(raw))]
    elif isinstance(data_type, BooleanType):
        _expect(kinds, values, {bool}, "a boolean")
        buffers = [_bitmap([v is True for v in values])]
    elif type(data_type) in _INTS:
        _expect(kinds, values, {int, float, decimal.Decimal}, "an integer")
        if kinds - {int}:
            values = [_whole(v) for v in values]
        data = np.array([0 if v is None else v for v in values] if nulls else values, np.int64)
        dtype = _INTS[type(data_type)]
        if dtype is not np.int64:
            lo, hi = np.iinfo(dtype).min, np.iinfo(dtype).max
            bad = data[(data < lo) | (data > hi)]
            if bad.size:
                raise OverflowError(f"holds {bad[0]}, out of {data_type.simpleString()} range")
            data = data.astype(dtype)
        buffers = [pa.py_buffer(data)]
    elif type(data_type) in _FLOATS:
        _expect(kinds, values, {float, int, bool}, "a number")
        dtype, exact = _FLOATS[type(data_type)]
        if int in kinds:
            big = next((v for v in values if type(v) is int and not -exact <= v <= exact), None)
            if big is not None:
                raise OverflowError(f"holds {big}, which a {data_type.simpleString()} "
                                    "does not hold exactly")
        with np.errstate(over="ignore"):  # a float too big for float32 is inf
            data = np.array([0.0 if v is None else v for v in values] if nulls else values, dtype)
        buffers = [pa.py_buffer(data)]
    elif isinstance(data_type, (TimestampType, TimestampNTZType, DateType)):
        _expect(kinds, values, {dt.datetime}, "a $date")
        # numpy's own datetime conversion is ~14x slower than this
        us = np.array([0 if v is None else (v - _EPOCH) // _US for v in values], np.int64)
        if isinstance(data_type, DateType):
            us = (us // 86_400_000_000).astype(np.int32)
        buffers = [pa.py_buffer(us)]
    elif isinstance(data_type, DecimalType):
        _expect(kinds, values, {decimal.Decimal, int}, "a decimal")
        scale = data_type.scale
        exp = decimal.Decimal(f"1E-{scale}")
        # the field's context, not the default one: 28 digits would round a
        # decimal(38, s) value, and quantize refuses a value over precision
        ctx = decimal.Context(prec=data_type.precision, rounding=decimal.ROUND_HALF_EVEN)
        unscaled = [0 if v is None else int(ctx.quantize(v, exp).scaleb(scale, ctx))
                    for v in values]
        buffers = [pa.py_buffer(b"".join(i.to_bytes(16, "little", signed=True) for i in unscaled))]
    elif isinstance(data_type, ArrayType):
        _expect(kinds, values, {list}, "an array")
        lists = [() if v is None else v for v in values] if nulls else values
        buffers = [_offsets(map(len, lists), n)]
        children = [_build(list(chain.from_iterable(lists)),
                           data_type.elementType, arrow_type.value_type)]
    elif isinstance(data_type, MapType):
        _expect(kinds, values, {dict}, "a subdocument")
        docs = [{} if v is None else v for v in values] if nulls else values
        keys = _build(list(chain.from_iterable(docs)), data_type.keyType, arrow_type.key_type)
        items = _build(list(chain.from_iterable(map(dict.values, docs))),
                       data_type.valueType, arrow_type.item_type)
        entries = pa.struct([arrow_type.key_field, arrow_type.item_field])
        buffers = [_offsets(map(len, docs), n)]
        children = [pa.Array.from_buffers(entries, len(keys), [None], 0, children=[keys, items])]
    elif isinstance(data_type, StructType):
        _expect(kinds, values, {dict}, "a subdocument")
        docs = [{} if v is None else v for v in values] if nulls else values
        buffers = []
        children = [_build([d.get(f.name) for d in docs], f.dataType, arrow_type.field(i).type)
                    for i, f in enumerate(data_type.fields)]
    else:  # void, and types no JSON value maps to
        _expect(kinds, values, set(), f"a {data_type.simpleString()} value")
    return pa.Array.from_buffers(arrow_type, n, [validity, *buffers], nulls, children=children)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class MongoExportReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongoexport source requires a path")

    def partitions(self):
        # an empty dump still needs one partition: "" reads as no rows
        files = _dump_files(self.path)
        return [_FilePartition(f) for f in files] or [_FilePartition("")]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        if not partition.path:  # empty-dump placeholder
            return
        # imported here, not at module level: the planner's Python workers
        # import this module to unpickle the DataSource and never scan
        import pyarrow as pa

        arrow_schema = to_arrow_schema(self.schema)
        raw_mode = self.schema.fieldNames() == ["doc"]  # schema-less: raw JSON text
        columns = list(zip(self.schema.fields, arrow_schema.types))
        with open(partition.path, encoding="utf-8") as fh:
            for chunk in iter(lambda: list(islice(fh, CHUNK_LINES)), []):
                lines = [line for line in chunk if not line.isspace()]
                if not lines:
                    continue
                if raw_mode:
                    values = [[line.strip() for line in lines]]
                else:
                    docs = _DECODER.decode("[" + ",".join(lines) + "]")
                    if len(docs) != len(lines):
                        raise ValueError(f"{partition.path}: a line holds more than one document")
                    values = ([d.get(f.name) for d in docs] for f, _ in columns)
                arrays = []
                for column, (field, arrow_type) in zip(values, columns):
                    try:
                        arrays.append(_build(column, field.dataType, arrow_type))
                    except (TypeError, OverflowError) as e:
                        raise type(e)(f"{partition.path}: field {field.name!r} {e}") from e
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


class MongoExportStreamReader(DataSourceStreamReader):
    """Tail a growing mongoexport dump directory as a stream.

    The batch reader snapshots a finished dump; real pipelines land new
    dump files continuously (one per export run / change-stream window —
    the jar-less analog of a Mongo change feed). Offsets are positions in
    the filename-sorted file listing — mongoexport shard names sort
    stably, and files are immutable once written, so `{"index": N}` fully
    identifies the consumed prefix. Each unconsumed file becomes one
    InputPartition (same file-granular parallelism as the batch reader);
    restarts resume from the checkpointed offset with no dupes and no
    gaps (pinned in tests/test_streaming.py).
    """

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongoexport stream source requires a path")
        self._batch_reader = MongoExportReader(schema, options)

    def _files(self) -> list[str]:
        return _dump_files(self.path) if os.path.exists(self.path) else []

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()
        return [
            _FilePartition(f) for f in files[start["index"] : end["index"]]
        ] or [_FilePartition("")]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        return self._batch_reader.read(partition)

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to clean up


class _PartFile(WriterCommitMessage):
    def __init__(self, path: str, count: int):
        self.path = path
        self.count = count


def _as_utc(v, data_type):
    """A Spark value with every TimestampType part made an aware UTC
    datetime. pyspark hands those to Python as naive LOCAL datetimes, and
    ``astimezone`` reads a naive datetime as local time."""
    if v is None:
        return None
    if isinstance(data_type, TimestampType):
        return v.astimezone(dt.timezone.utc)
    if isinstance(data_type, ArrayType):
        return [_as_utc(x, data_type.elementType) for x in v]
    if isinstance(data_type, MapType):
        return {k: _as_utc(x, data_type.valueType) for k, x in v.items()}
    if isinstance(data_type, StructType):
        return {f.name: _as_utc(v[f.name], f.dataType) for f in data_type.fields}
    return v


class MongoExportWriter(DataSourceWriter):
    """Executor-side JSONL writer: each task writes one ``part-*.jsonl``
    with every row re-wrapped into mongoexport envelopes (wrap_extjson;
    an ``_id`` column becomes ``{"$oid": ...}``), and the driver-side
    commit records a manifest — the standard task-file + driver-commit
    protocol, so a failed task's partial file is simply never committed.
    Timestamps are written as the UTC instants they are (see _as_utc).
    """

    def __init__(self, schema, options, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongoexport writer requires a path")
        self.overwrite = overwrite

    def write(self, iterator) -> "_PartFile":
        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(
            self.path, f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.jsonl"
        )
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            for row in iterator:
                doc = _as_utc(row.asDict(recursive=True), self.schema)
                enc = {
                    k: ({"$oid": str(v)} if k == "_id" and v is not None
                        else wrap_extjson(v))
                    for k, v in doc.items()
                }
                fh.write(json.dumps(enc) + "\n")
                n += 1
        return _PartFile(out, n)

    def commit(self, messages) -> None:
        committed = {os.path.basename(m.path): m.count for m in messages}
        manifest = os.path.join(self.path, "_SUCCESS.json")
        keep = dict(committed)
        if not self.overwrite and os.path.isfile(manifest):
            with open(manifest) as fh:
                keep.update(json.load(fh).get("files", {}))
        # anything not in the manifest union is a previous overwrite's data
        # or a failed/speculative task attempt's partial file — drop it
        for f in os.listdir(self.path):
            if f.endswith(".jsonl") and f not in keep:
                os.remove(os.path.join(self.path, f))
        with open(manifest, "w") as fh:
            json.dump({"files": keep, "rows": sum(keep.values())}, fh)

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


class MongoExportDataSource(DataSource):
    """``spark.read.format("mongoexport")`` — see module docstring.

    Also registers as a STREAMING source: ``spark.readStream.format(
    "mongoexport").schema(...).load(dir)`` tails the dump directory,
    one micro-batch partition per newly-landed file.
    """

    @classmethod
    def name(cls) -> str:
        return "mongoexport"

    def schema(self) -> str:
        # schema-less reads get the reference's universal fallback: the
        # raw document as a JSON string (caller extracts with from_json) —
        # mirrors the reference's "whatever BSON yields" posture without
        # guessing types (SURVEY §1.1 inferred-then-frozen critique).
        return "doc string"

    def reader(self, schema) -> MongoExportReader:
        return MongoExportReader(schema, self.options)

    def streamReader(self, schema) -> MongoExportStreamReader:
        return MongoExportStreamReader(schema, self.options)

    def writer(self, schema, overwrite: bool) -> MongoExportWriter:
        return MongoExportWriter(schema, self.options, overwrite)
