"""Pure-Python Avro Object Container File reader/writer — closes the
format matrix's last gap WITHOUT jars.

The reference *registers* an AVRO listing factory but cannot execute
it: its build compiles no avro crate (`crates/core/src/context.rs:41`
registers the format; Cargo.lock has no avro dependency — the factory
errors at runtime).  Here the format actually works: spark-avro is
used when the jar is present (registry auto-select), and this module
is the jar-free fallback, implementing the public Avro 1.11 spec
(container format + binary encoding, avro.apache.org/docs/current/
specification/) directly.

Scale shape (the part that matters at 100 TB):

- **Decode is executor-side.**  The driver reads ONE file header for
  the schema; the file list distributes and each task decodes its
  files with this module, emitting Arrow batches through
  ``mapInArrow`` — read parallelism = file count, like any Spark file
  source.  Python-in-path is justified exactly as for the multimodal
  codecs: this IS a byte-format decoder, and it is Arrow-batched,
  never row-at-a-time through the serializer.
- **Write is executor-side**: one container file per partition via
  ``mapInArrow`` (the arrow_ipc sink pattern) — write parallelism =
  partition count, no driver materialization.

Supported: all primitives, records, enums, arrays, maps, fixed,
``[null, T]`` unions, deflate + null codecs, and the common logical
types (date, timestamp-millis/micros, decimal on bytes/fixed).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from adt_spark.context import local_frame

_MAGIC = b"Obj\x01"
_SYNC = b"\x9aadt-spark-avro\x9b"  # 16 bytes, fixed (deterministic output)
assert len(_SYNC) == 16


class AvroError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# Binary primitives (Avro spec: zig-zag varints, little-endian floats)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise AvroError("truncated Avro data")
        self.pos += n
        return b

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zig-zag

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_boolean(self) -> bool:
        return self.read(1) == b"\x01"

    def read_float(self) -> float:
        return struct.unpack("<f", self.read(4))[0]

    def read_double(self) -> float:
        return struct.unpack("<d", self.read(8))[0]

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


def _write_long(out: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1) | 1  # zig-zag
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            break


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _write_string(out: io.BytesIO, s: str) -> None:
    _write_bytes(out, s.encode("utf-8"))


# ---------------------------------------------------------------------------
# Schema-driven decode / encode
# ---------------------------------------------------------------------------


def _decode(schema, r: _Reader):
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return r.read_boolean()
        if t in ("int", "long"):
            return r.read_long()
        if t == "float":
            return r.read_float()
        if t == "double":
            return r.read_double()
        if t == "bytes":
            return r.read_bytes()
        if t == "string":
            return r.read_string()
        raise AvroError(f"unknown Avro type {t!r}")
    if isinstance(schema, list):  # union
        idx = r.read_long()
        if not 0 <= idx < len(schema):
            raise AvroError(f"union index {idx} out of range")
        return _decode(schema[idx], r)
    t = schema["type"]
    logical = schema.get("logicalType")
    if t in ("int", "long") and logical:
        v = r.read_long()
        import datetime as _dt

        if logical == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        if logical == "timestamp-millis":
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=v)
        if logical == "timestamp-micros":
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        return v
    if t in ("bytes", "fixed") and logical == "decimal":
        import decimal as _decimal

        raw = r.read_bytes() if t == "bytes" else r.read(schema["size"])
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(-schema.get("scale", 0))
    if t == "record":
        return {f["name"]: _decode(f["type"], r) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][r.read_long()]
    if t == "fixed":
        return r.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                n = -n
                r.read_long()
            for _ in range(n):
                out.append(_decode(schema["items"], r))
        return out
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.read_long()
            for _ in range(n):
                k = r.read_string()
                out[k] = _decode(schema["values"], r)
        return out
    return _decode(t, r)  # {"type": "long", ...} wrapper


def _encode(schema, v, out: io.BytesIO) -> None:
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return
        if t == "boolean":
            out.write(b"\x01" if v else b"\x00")
        elif t in ("int", "long"):
            _write_long(out, int(v))
        elif t == "float":
            out.write(struct.pack("<f", float(v)))
        elif t == "double":
            out.write(struct.pack("<d", float(v)))
        elif t == "bytes":
            _write_bytes(out, bytes(v))
        elif t == "string":
            _write_string(out, str(v))
        else:
            raise AvroError(f"unknown Avro type {t!r}")
        return
    if isinstance(schema, list):  # union — [null, T] convention
        if v is None:
            null_idx = schema.index("null")
            _write_long(out, null_idx)
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        _write_long(out, idx)
        _encode(schema[idx], v, out)
        return
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical:
        import datetime as _dt

        if logical == "date":
            _write_long(out, (v - _dt.date(1970, 1, 1)).days)
            return
        if logical == "timestamp-micros":
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)  # naive or aware
            delta = v - epoch
            _write_long(out, (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds)
            return
        if logical == "decimal" and t in ("bytes", "fixed"):
            unscaled = int(v.scaleb(schema.get("scale", 0)))
            if t == "fixed":
                out.write(unscaled.to_bytes(schema["size"], "big", signed=True))
            else:
                nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                _write_bytes(out, unscaled.to_bytes(nbytes, "big", signed=True))
            return
    if t == "enum":
        _write_long(out, schema["symbols"].index(v))
        return
    if t == "fixed":
        out.write(bytes(v))
        return
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v.get(f["name"]) if isinstance(v, dict) else v[f["name"]], out)
        return
    if t == "array":
        if v:
            _write_long(out, len(v))
            for item in v:
                _encode(schema["items"], item, out)
        _write_long(out, 0)
        return
    if t == "map":
        # Arrow's to_pylist renders map values as [(k, v), ...]; plain
        # Python callers pass dicts — accept both.
        items = list(v.items()) if isinstance(v, dict) else list(v or [])
        if items:
            _write_long(out, len(items))
            for k, item in items:
                _write_string(out, str(k))
                _encode(schema["values"], item, out)
        _write_long(out, 0)
        return
    _encode(t, v, out)


# ---------------------------------------------------------------------------
# Container file format
# ---------------------------------------------------------------------------


def parse_schema_header(data: bytes):
    """(schema, codec) from ONLY the container header — stops at the
    sync marker without decoding any block, so the driver-side schema
    probe reads a few KB of a multi-GB file instead of row-decoding
    the whole thing."""
    r = _Reader(data)
    if r.read(4) != _MAGIC:
        raise AvroError("not an Avro container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_string()
            meta[k] = r.read_bytes()
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported Avro codec {codec!r}")
    return schema, codec


def parse_container(data: bytes) -> tuple[dict | str | list, str, list]:
    """(schema, codec, records) from Object Container File bytes."""
    r = _Reader(data)
    if r.read(4) != _MAGIC:
        raise AvroError("not an Avro container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_string()
            meta[k] = r.read_bytes()
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported Avro codec {codec!r}")
    sync = r.read(16)

    records: list = []
    while not r.at_end():
        count = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            records.append(_decode(schema, br))
        if r.read(16) != sync:
            raise AvroError("sync marker mismatch (corrupt container)")
    return schema, codec, records


def write_container(
    schema, records: list, codec: str = "null"
) -> bytes:
    """Object Container File bytes for ``records`` under ``schema``."""
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_string(out, k)
        _write_bytes(out, v)
    _write_long(out, 0)
    out.write(_SYNC)
    if records:
        body = io.BytesIO()
        for rec in records:
            _encode(schema, rec, body)
        payload = body.getvalue()
        if codec == "deflate":
            comp = zlib.compressobj(wbits=-15)
            payload = comp.compress(payload) + comp.flush()
        _write_long(out, len(records))
        _write_long(out, len(payload))
        out.write(payload)
        out.write(_SYNC)
    return out.getvalue()


# ---------------------------------------------------------------------------
# Avro schema <-> Spark schema
# ---------------------------------------------------------------------------


def avro_to_spark_type(schema) -> T.DataType:
    if isinstance(schema, str):
        return {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }[schema]
    if isinstance(schema, list):  # union
        non_null = [s for s in schema if s != "null"]
        if len(non_null) != 1:
            raise AvroError(f"only [null, T] unions supported, got {schema!r}")
        return avro_to_spark_type(non_null[0])
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "date":
        return T.DateType()
    if logical in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    if logical == "decimal":
        return T.DecimalType(schema.get("precision", 10), schema.get("scale", 0))
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    avro_to_spark_type(f["type"]),
                    nullable=isinstance(f["type"], list) and "null" in f["type"],
                )
                for f in schema["fields"]
            ]
        )
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(schema["values"]))
    return avro_to_spark_type(t)


def spark_to_avro_schema(dt: T.DataType, name: str = "topLevelRecord") -> object:
    if isinstance(dt, T.StructType):
        return {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": f.name,
                    "type": (
                        ["null", spark_to_avro_schema(f.dataType, f"{name}_{f.name}")]
                        if f.nullable
                        else spark_to_avro_schema(f.dataType, f"{name}_{f.name}")
                    ),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": spark_to_avro_schema(dt.elementType, name)}
    if isinstance(dt, T.MapType):
        return {"type": "map", "values": spark_to_avro_schema(dt.valueType, name)}
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    simple = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.ShortType(): "int",
        T.ByteType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.BinaryType(): "bytes",
        T.StringType(): "string",
    }.get(dt)
    if simple is None:
        raise AvroError(f"unsupported Spark type for Avro write: {dt}")
    return simple


# ---------------------------------------------------------------------------
# Distributed read / write
# ---------------------------------------------------------------------------


def _list_avro_files(location: str) -> list[str]:
    location = location.removeprefix("file://")
    if os.path.isfile(location):
        return [location]
    if not os.path.isdir(location):
        raise FileNotFoundError(location)
    out = []
    for root, _dirs, files in os.walk(location):
        for f in sorted(files):
            if f.endswith(".avro") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    if not out:
        raise FileNotFoundError(f"no .avro files under {location}")
    return out


def read_avro_native(spark: SparkSession, location: str) -> DataFrame:
    """Distributed Avro read without jars: the driver parses ONE file
    header for the schema; the file list distributes and each task
    decodes its files, emitting Arrow batches (``mapInArrow``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    files = _list_avro_files(location)
    with open(files[0], "rb") as fh:
        # the header (magic + metadata map + sync) is small; 1 MB
        # covers any realistic schema without pulling a multi-GB data
        # file onto the driver
        header = fh.read(1 << 20)
    schema, _codec = parse_schema_header(header)
    spark_schema = avro_to_spark_type(schema)
    if not isinstance(spark_schema, T.StructType):
        raise AvroError("top-level Avro schema must be a record")
    arrow_schema = to_arrow_schema(spark_schema)

    paths_df = local_frame(
        spark, [(p,) for p in files], "path string"
    ).repartition(min(len(files), spark.sparkContext.defaultParallelism))

    def decode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            for path in batch.column("path").to_pylist():
                with open(path, "rb") as fh:
                    _s, _c, records = parse_container(fh.read())
                if records:
                    yield pa.RecordBatch.from_pylist(records, schema=arrow_schema)

    return paths_df.mapInArrow(decode, schema=spark_schema)


def write_avro_native(
    df: DataFrame, path: str, mode: str = "overwrite", codec: str = "null"
) -> None:
    """Avro container sink — one ``part-N.avro`` per partition,
    written executor-side via ``mapInArrow`` (the arrow_ipc sink
    shape: write parallelism = partition count, nothing through the
    driver)."""
    import shutil

    import pyarrow as pa  # noqa: F401

    path = path.removeprefix("file://")
    if os.path.exists(path):
        if mode != "overwrite":
            raise FileExistsError(path)
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    avro_schema = spark_to_avro_schema(df.schema)

    def write_partition(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list = []
        for batch in batches:
            rows.extend(batch.to_pylist())
        if rows:
            data = write_container(avro_schema, rows, codec=codec)
            with open(os.path.join(path, f"part-{pid:05d}.avro"), "wb") as fh:
                fh.write(data)
        yield pa.RecordBatch.from_pydict({"n": pa.array([len(rows)], pa.int64())})

    df.mapInArrow(write_partition, schema="n long").write.format("noop").mode(
        "overwrite"
    ).save()
