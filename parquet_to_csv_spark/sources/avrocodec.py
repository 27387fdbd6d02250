"""Pure-Python Avro Object Container File codec + Spark DataSource.

Round 10 (continuation of the boundary-shrinking series E343/E523/
E524): the SURVEY §2.7 row "Avro source/sink — spark-avro jar absent"
was an environment boundary, but the Avro format itself (Apache Avro
spec, public) is zigzag-varint binary encoding + a simple container
framing — no native library needed:

- binary encoding: long/int as zigzag varints; float/double as IEEE
  little-endian; bytes/string as length-prefixed; records as field
  concatenation; arrays/maps as count-prefixed blocks (0-count
  terminator, negative count = block-size-prefixed per spec);
  unions as index + value; enum as int index; fixed as raw bytes.
- Object Container File: magic ``Obj\\x01``, a metadata map carrying
  ``avro.schema`` (JSON) + ``avro.codec``, a 16-byte sync marker, then
  (count, size, payload, sync) data blocks. Codecs: ``null``,
  ``deflate`` (raw RFC-1951 via stdlib zlib, wbits=-15) and ``snappy``
  (raw snappy through pyarrow, plus a big-endian CRC32 per block).

Spark integration (the E319 Python DataSource surface):

- ``read_avro(spark, path_or_glob)`` — registers the ``pyavro``
  DataSource and reads Avro files partition-per-FILE (files are the
  parallelism unit, exactly like every container-format source at
  100 TB; a block-splitting reader would additionally need a driver
  pass over sync markers — files-as-splits is the honest default).
  The Spark schema is derived from the first file's Avro schema.
- ``write_avro(df, path, codec)`` — a DataSourceWriter sink: each
  task serializes its partition to a temp ``.avro`` file and the
  commit renames into place (same task-commit discipline as the
  JSONL sink).

Type scope (covers every repo table): null / boolean / int / long /
float / double / string / bytes, records, arrays, maps, 2-branch
nullable unions, enum (as string), fixed (as binary), and the
``date`` (int days) / ``timestamp-micros`` (long µs) logical types.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"
SYNC_SIZE = 16


# ---------------------------------------------------------------------------
# snappy blocks (raw snappy format, through pyarrow's bundled library)
# ---------------------------------------------------------------------------


def snappy_compress(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.Codec("snappy").compress(data).to_pybytes()


def snappy_decompress(block: bytes) -> bytes:
    """Decode one raw snappy stream. Its decoded length is the stream's
    own leading varint, read exactly: pyarrow zero-fills a size that is
    too large instead of rejecting it. A corrupt stream (a truncated
    varint included) raises ``ValueError``."""
    import pyarrow as pa

    n = shift = 0
    for b in block:
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    try:
        return pa.Codec("snappy").decompress(block, n).to_pybytes()
    except OSError as e:
        raise ValueError(f"snappy: {e}") from e


# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _write_bytes(out: bytearray, b: bytes) -> None:
    out += zigzag_encode(len(b))
    out += b


def _read_bytes(buf, pos: int) -> tuple[bytes, int]:
    n, pos = zigzag_decode(buf, pos)
    return bytes(buf[pos : pos + n]), pos + n


# ---------------------------------------------------------------------------
# schema-driven value serde
# ---------------------------------------------------------------------------


def _normalize(schema):
    """Resolve the {"type": X, ...} wrapper form to a uniform dict."""
    if isinstance(schema, str):
        return {"type": schema}
    return schema


def write_value(out: bytearray, schema, v) -> None:
    if isinstance(schema, list):  # union at any nesting level
        write_any(out, schema, v)
        return
    s = _normalize(schema)
    t = s["type"]
    if isinstance(t, (list, dict)):  # wrapped union/complex
        write_value(out, t, v)
        return
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
    elif t in ("int", "long"):
        out += zigzag_encode(int(v))
    elif t == "float":
        out += struct.pack("<f", float(v))
    elif t == "double":
        out += struct.pack("<d", float(v))
    elif t == "string":
        _write_bytes(out, str(v).encode("utf-8"))
    elif t == "bytes":
        _write_bytes(out, bytes(v))
    elif t == "fixed":
        out += bytes(v)
    elif t == "enum":
        out += zigzag_encode(s["symbols"].index(v))
    elif t == "record":
        for f in s["fields"]:
            write_value(out, f["type"], v[f["name"]] if isinstance(v, dict) else getattr(v, f["name"]))
    elif t == "array":
        items = list(v)
        if items:
            out += zigzag_encode(len(items))
            for it in items:
                write_value(out, s["items"], it)
        out += zigzag_encode(0)
    elif t == "map":
        entries = dict(v)
        if entries:
            out += zigzag_encode(len(entries))
            for k, val in entries.items():
                _write_bytes(out, str(k).encode("utf-8"))
                write_value(out, s["values"], val)
        out += zigzag_encode(0)
    else:
        raise NotImplementedError(f"avro type {t}")


def write_any(out: bytearray, schema, v) -> None:
    """Entry point handling top-level unions ([...] schemas)."""
    if isinstance(schema, list):  # union: index then value
        if v is None and "null" in schema:
            idx = schema.index("null")
            out += zigzag_encode(idx)
            return
        for idx, branch in enumerate(schema):
            if branch != "null":
                out += zigzag_encode(idx)
                write_value(out, branch, v)
                return
        raise ValueError("union has no non-null branch")
    write_value(out, schema, v)


def read_value(buf, pos: int, schema):
    s = _normalize(schema)
    t = s["type"]
    if isinstance(t, (list, dict)):
        return read_any(buf, pos, t)
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    if t == "bytes":
        return _read_bytes(buf, pos)
    if t == "fixed":
        n = s["size"]
        return bytes(buf[pos : pos + n]), pos + n
    if t == "enum":
        idx, pos = zigzag_decode(buf, pos)
        return s["symbols"][idx], pos
    if t == "record":
        rec = {}
        for f in s["fields"]:
            rec[f["name"]], pos = read_any(buf, pos, f["type"])
        return rec, pos
    if t == "array":
        items = []
        while True:
            n, pos = zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # block with byte-size prefix (spec: skippable)
                _, pos = zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                it, pos = read_any(buf, pos, s["items"])
                items.append(it)
    if t == "map":
        entries = {}
        while True:
            n, pos = zigzag_decode(buf, pos)
            if n == 0:
                return entries, pos
            if n < 0:
                _, pos = zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                kb, pos = _read_bytes(buf, pos)
                entries[kb.decode("utf-8")], pos = read_any(
                    buf, pos, s["values"]
                )
    raise NotImplementedError(f"avro type {t}")


def read_any(buf, pos: int, schema):
    if isinstance(schema, list):
        idx, pos = zigzag_decode(buf, pos)
        return read_any(buf, pos, schema[idx])
    return read_value(buf, pos, schema)


# ---------------------------------------------------------------------------
# Object Container File framing
# ---------------------------------------------------------------------------


def write_ocf(
    path: str,
    schema: dict,
    rows,
    codec: str = "deflate",
    rows_per_block: int = 4096,
) -> int:
    """Write ``rows`` (dicts) as one Avro OCF; returns the row count.
    The sync marker is derived deterministically from the schema + path
    so output is byte-reproducible (same determinism discipline as
    encode_vp8l / encode_flac)."""
    import hashlib

    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec {codec}")
    sync = hashlib.md5(
        (json.dumps(schema, sort_keys=True) + os.path.basename(path)).encode()
    ).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    meta = bytearray()
    meta += zigzag_encode(2)
    _write_bytes(meta, b"avro.schema")
    _write_bytes(meta, json.dumps(schema).encode("utf-8"))
    _write_bytes(meta, b"avro.codec")
    _write_bytes(meta, codec.encode())
    meta += zigzag_encode(0)
    out.write(bytes(meta))
    out.write(sync)
    n_total = 0
    block: list = []

    def flush():
        nonlocal n_total
        if not block:
            return
        payload = bytearray()
        for r in block:
            write_any(payload, schema, r)
        data = bytes(payload)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = co.compress(data) + co.flush()
        elif codec == "snappy":
            # Avro snappy framing: snappy(raw) + 4-byte BIG-ENDIAN
            # CRC32 of the UNCOMPRESSED bytes
            data = snappy_compress(data) + struct.pack(
                ">I", zlib.crc32(data) & 0xFFFFFFFF
            )
        head = bytearray()
        head += zigzag_encode(len(block))
        head += zigzag_encode(len(data))
        out.write(bytes(head))
        out.write(data)
        out.write(sync)
        n_total += len(block)
        block.clear()

    for r in rows:
        block.append(r)
        if len(block) >= rows_per_block:
            flush()
    flush()
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return n_total


def read_ocf(path: str):
    """Iterate dict rows from one Avro OCF (null/deflate/snappy codecs).
    Returns (schema, iterator)."""
    buf = open(path, "rb").read()
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = zigzag_decode(buf, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(buf, pos)
            v, pos = _read_bytes(buf, pos)
            meta[k.decode()] = v
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec {codec}")
    sync = buf[pos : pos + SYNC_SIZE]
    pos += SYNC_SIZE

    def rows():
        p = pos
        while p < len(buf):
            count, p2 = zigzag_decode(buf, p)
            size, p2 = zigzag_decode(buf, p2)
            data = buf[p2 : p2 + size]
            p2 += size
            if buf[p2 : p2 + SYNC_SIZE] != sync:
                raise ValueError("sync marker mismatch — corrupt block")
            p = p2 + SYNC_SIZE
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            elif codec == "snappy":
                crc = struct.unpack(">I", data[-4:])[0]
                data = snappy_decompress(data[:-4])
                if zlib.crc32(data) & 0xFFFFFFFF != crc:
                    raise ValueError("avro snappy block CRC mismatch")
            q = 0
            for _ in range(count):
                rec, q = read_any(data, q, schema)
                yield rec

    return schema, rows()


# ---------------------------------------------------------------------------
# Spark schema <-> Avro schema
# ---------------------------------------------------------------------------


def spark_to_avro_schema(schema, name: str = "row") -> dict:
    from pyspark.sql import types as T

    def conv(dt, field_name):
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.ArrayType):
            item = conv(dt.elementType, field_name + "_item")
            return {
                "type": "array",
                "items": ["null", item] if dt.containsNull else item,
            }
        if isinstance(dt, T.MapType):
            val = conv(dt.valueType, field_name + "_value")
            return {
                "type": "map",
                "values": ["null", val] if dt.valueContainsNull else val,
            }
        if isinstance(dt, T.StructType):
            return spark_to_avro_schema(dt, field_name)
        raise NotImplementedError(f"avro mapping for {dt}")

    fields = []
    for f in schema.fields:
        ft = conv(f.dataType, f.name)
        fields.append(
            {"name": f.name, "type": ["null", ft] if f.nullable else ft}
        )
    return {"type": "record", "name": name, "fields": fields}


def avro_to_spark_ddl(schema: dict) -> str:
    def conv(s):
        if isinstance(s, list):  # nullable union
            branches = [b for b in s if b != "null"]
            if len(branches) != 1:
                raise NotImplementedError(f"multi-branch union {s}")
            return conv(branches[0])
        s = _normalize(s)
        t = s["type"]
        if isinstance(t, (list, dict)):
            return conv(t)
        logical = s.get("logicalType")
        if logical == "date":
            return "date"
        if logical == "timestamp-micros":
            return "timestamp"
        if t == "array":
            return f"array<{conv(s['items'])}>"
        if t == "map":
            return f"map<string,{conv(s['values'])}>"
        if t == "record":
            inner = ",".join(
                f"{f['name']}:{conv(f['type'])}" for f in s["fields"]
            )
            return f"struct<{inner}>"
        return {
            "long": "bigint",
            "int": "int",
            "double": "double",
            "float": "float",
            "string": "string",
            "boolean": "boolean",
            "bytes": "binary",
            "fixed": "binary",
            "enum": "string",
        }[t]

    if schema.get("type") != "record":
        raise NotImplementedError("top-level avro schema must be a record")
    return ", ".join(
        f"{f['name']} {conv(f['type'])}" for f in schema["fields"]
    )


# ---------------------------------------------------------------------------
# Spark DataSource: pyavro (read) + pyavro_sink (write)
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _coerce_for_spark(rec: dict, schema: dict) -> tuple:
    """Avro dict row -> tuple in field order, logical types converted.
    timestamp-micros values are UTC epoch micros per the Avro spec;
    Spark converts naive datetimes from Python sources using the
    PROCESS-local timezone (verified against Spark 4.1 — the same rule
    as TimestampType.fromInternal / collect()), so convert the UTC
    instant to process-local wall time here."""
    import datetime

    epoch_utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    out = []
    for f in schema["fields"]:
        v = rec[f["name"]]
        ft = f["type"]
        if isinstance(ft, list):
            ft = next(b for b in ft if b != "null") if v is not None else None
        ft = _normalize(ft) if ft is not None else None
        if v is not None and ft is not None:
            lt = ft.get("logicalType")
            if lt == "date":
                v = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
            elif lt == "timestamp-micros":
                # exact integer micros (float division would round)
                v = (
                    epoch_utc + datetime.timedelta(microseconds=v)
                ).astimezone().replace(tzinfo=None)
        out.append(v)
    return tuple(out)


def _avro_to_arrow_type(ft):
    """Arrow type for an Avro field type, or None when unmapped (maps,
    nested records, multi-branch unions) — the caller then falls back
    to row-tuple emission for the whole file."""
    import pyarrow as pa

    if isinstance(ft, list):
        branches = [b for b in ft if b != "null"]
        if len(branches) != 1:
            return None
        return _avro_to_arrow_type(branches[0])
    s = _normalize(ft)
    t = s["type"]
    if isinstance(t, (list, dict)):
        return _avro_to_arrow_type(t)
    lt = s.get("logicalType")
    if lt == "date":
        return pa.date32()
    if lt == "timestamp-micros":
        # tz-aware: Avro stores UTC epoch micros; a tz-naive Arrow
        # timestamp would be re-interpreted as session-local wall time
        return pa.timestamp("us", tz="UTC")
    if t == "array":
        item = _avro_to_arrow_type(s["items"])
        return pa.list_(item) if item is not None else None
    return {
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "bytes": pa.binary(),
        "fixed": pa.binary(),
        "enum": pa.string(),
    }.get(t)


class AvroReader(DataSourceReader):
    def __init__(self, options: dict):
        import glob as _glob

        pat = options["path"]
        self.paths = sorted(_glob.glob(pat)) or [pat]
        self.use_arrow = options.get("arrow", "true").lower() != "false"

    def partitions(self):
        return [_FilePartition(p) for p in self.paths]

    def read(self, partition: _FilePartition):
        schema, rows = read_ocf(partition.path)
        arrow_fields = None
        if self.use_arrow:
            import pyarrow as pa

            typed = [
                (f["name"], _avro_to_arrow_type(f["type"]))
                for f in schema["fields"]
            ]
            if all(t is not None for _, t in typed):
                arrow_fields = pa.schema(typed)
        if arrow_fields is None:
            # row fallback: maps / nested records / exotic unions
            for rec in rows:
                yield _coerce_for_spark(rec, schema)
            return
        # Arrow fast path: columnar batches skip per-row tuple pickling
        # (the measured 13x of the E319 synthetic source). Raw Avro
        # values feed Arrow directly — date/timestamp stay INTEGER
        # days/µs, which date32/timestamp("us") accept natively, so the
        # per-row datetime construction of the fallback disappears too.
        import pyarrow as pa

        names = [f["name"] for f in schema["fields"]]
        batch_rows = 4096
        cols: list[list] = [[] for _ in names]
        n = 0

        def emit():
            arrays = [
                pa.array(c, type=arrow_fields.field(i).type)
                for i, c in enumerate(cols)
            ]
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_fields)

        for rec in rows:
            for i, name in enumerate(names):
                cols[i].append(rec[name])
            n += 1
            if n >= batch_rows:
                yield emit()
                cols = [[] for _ in names]
                n = 0
        if n:
            yield emit()


class AvroDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def schema(self) -> str:
        import glob as _glob

        pat = self.options["path"]
        first = (sorted(_glob.glob(pat)) or [pat])[0]
        schema, _ = read_ocf(first)
        return avro_to_spark_ddl(schema)

    def reader(self, schema):
        return AvroReader(self.options)


class _AvroCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, n_rows: int):
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class AvroSinkWriter(DataSourceWriter):
    def __init__(self, options: dict, schema_json: str):
        import uuid

        self.path = options["path"]
        self.codec = options.get("codec", "deflate")
        self.schema_json = schema_json
        # per-job token: append jobs must never collide on final part
        # names — deterministic part-{i} names made a second append
        # silently os.replace() the first job's files
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, rows):
        import datetime
        import uuid

        schema = json.loads(self.schema_json)
        names = [f["name"] for f in schema["fields"]]
        epoch_utc = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

        def to_avro(row):
            rec = {}
            for name in names:
                # index by NAME, never getattr: Row is a tuple subclass,
                # so a column called "count"/"index" would shadow into a
                # bound method under attribute access
                v = row[name]
                if isinstance(v, datetime.date) and not isinstance(
                    v, datetime.datetime
                ):
                    v = (v - datetime.date(1970, 1, 1)).days
                elif isinstance(v, datetime.datetime):
                    # Spark hands the writer PROCESS-local wall-clock
                    # datetimes (verified: same rule as collect(), NOT
                    # the session tz); Avro timestamp-micros is UTC
                    # epoch micros, so localize before differencing.
                    # astimezone() on a naive value attaches the
                    # process-local zone, DST-correct per value. The
                    # floor-div keeps exact integer micros —
                    # total_seconds() is a float and loses exactness
                    # at 2^53.
                    if v.tzinfo is None:
                        v = v.astimezone()
                    v = (v - epoch_utc) // datetime.timedelta(microseconds=1)
                rec[name] = v
            return rec

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex[:12]}.avro")
        n = write_ocf(tmp, schema, (to_avro(r) for r in rows), self.codec)
        return _AvroCommit(tmp, n)

    def commit(self, messages):
        for i, m in enumerate(messages):
            final = os.path.join(
                self.path, f"part-{i:05d}-{self.job_token}.avro"
            )
            os.replace(m.tmp_path, final)

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.tmp_path)
            except (FileNotFoundError, TypeError):
                pass


class AvroSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyavro_sink"

    def writer(self, schema, overwrite: bool):
        return AvroSinkWriter(
            self.options,
            json.dumps(spark_to_avro_schema(schema)),
        )


def write_avro(df, path: str, codec: str = "deflate") -> None:
    """Write ``df`` as a directory of Avro OCF part files (one per
    task), through the Python DataSource sink."""
    spark = df.sparkSession
    spark.dataSource.register(AvroSinkDataSource)
    (
        df.write.format("pyavro_sink")
        .option("path", path)
        .option("codec", codec)
        .mode("append")
        .save()
    )


def read_avro(spark, path: str):
    """Read a file / glob of Avro OCFs, one partition per file."""
    spark.dataSource.register(AvroDataSource)
    return spark.read.format("pyavro").option("path", path).load()
