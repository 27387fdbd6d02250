"""Round 10: pure-Python Avro OCF codec + pyavro DataSource.

Closes the SURVEY §2.7 "Avro — spark-avro jar absent" boundary the
same way FLAC (E523) and WebP-lossless (E524) closed theirs: the
format is public-spec binary encoding the stdlib can realize (zigzag
varints + RFC-1951 deflate), so the engine gets a REAL Avro
source/sink through the Spark 4 Python DataSource API instead of a
documented gap. Spec pins + container round-trips + Spark round-trips
over the repo's actual tables (incl. date columns and array<float>
embeddings)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

import parquet_to_csv_spark.sources.avrocodec as av


# --- spec pins ---------------------------------------------------------------


def test_zigzag_varint_spec_examples():
    # the example table from the Avro specification ("Binary Encoding")
    for n, b in [
        (0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
        (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01"), (-65, b"\x81\x01"),
    ]:
        assert av.zigzag_encode(n) == b
        v, pos = av.zigzag_decode(b, 0)
        assert (v, pos) == (n, len(b))
    for n in [2**62, -(2**62), 2**31 - 1, -(2**31)]:
        v, _ = av.zigzag_decode(av.zigzag_encode(n), 0)
        assert v == n


def test_container_header_layout(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    p = str(tmp_path / "t.avro")
    av.write_ocf(p, schema, [{"x": 5}], codec="null")
    buf = open(p, "rb").read()
    assert buf[:4] == b"Obj\x01"  # OCF magic per spec
    s2, rows = av.read_ocf(p)
    assert s2 == schema and list(rows) == [{"x": 5}]


def test_negative_block_count_is_read():
    """Spec: a negative array/map block count means |count| items with
    a byte-size prefix (for skipping). Writers here never emit it, but
    real Avro writers do — hand-build one and decode."""
    out = bytearray()
    out += av.zigzag_encode(-2)  # block: 2 items, size-prefixed
    out += av.zigzag_encode(2)  # block byte size (2 one-byte longs)
    out += av.zigzag_encode(3)
    out += av.zigzag_encode(4)
    out += av.zigzag_encode(0)  # terminator
    v, pos = av.read_value(bytes(out), 0, {"type": "array", "items": "long"})
    assert v == [3, 4] and pos == len(out)


def test_corrupt_sync_marker_raises(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    p = str(tmp_path / "t.avro")
    av.write_ocf(p, schema, [{"x": i} for i in range(10)])
    buf = bytearray(open(p, "rb").read())
    buf[-3] ^= 0xFF  # flip a byte inside the trailing sync marker
    open(p, "wb").write(bytes(buf))
    _, rows = av.read_ocf(p)
    with pytest.raises(ValueError, match="sync"):
        list(rows)


def test_unsupported_codec_raises(tmp_path):
    with pytest.raises(NotImplementedError):
        av.write_ocf(str(tmp_path / "x.avro"), {"type": "record",
                     "name": "r", "fields": []}, [], codec="zstandard")


# --- container round-trips ----------------------------------------------------


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_ocf_roundtrip_all_types(tmp_path, codec):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "small", "type": "int"},
        {"name": "flag", "type": "boolean"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "blob", "type": "bytes"},
        {"name": "kind", "type": {"type": "enum", "name": "k",
                                  "symbols": ["A", "B", "C"]}},
        {"name": "fix", "type": {"type": "fixed", "name": "f", "size": 4}},
    ]}
    rows = [
        {"id": 1, "small": -3, "flag": True, "name": "héllo", "score": 1.5,
         "ratio": 0.25, "tags": ["a", "b"], "props": {"x": 1, "y": -2},
         "blob": b"\x00\xff", "kind": "B", "fix": b"abcd"},
        {"id": -(2**40), "small": 2**31 - 1, "flag": False, "name": None,
         "score": -0.0, "ratio": 2.0, "tags": [], "props": {},
         "blob": b"", "kind": "A", "fix": b"\x00" * 4},
    ]
    p = str(tmp_path / "t.avro")
    assert av.write_ocf(p, schema, rows, codec=codec) == 2
    s2, it = av.read_ocf(p)
    assert s2 == schema
    assert list(it) == rows


def test_deterministic_output_bytes(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i * 7} for i in range(1000)]
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    av.write_ocf(p1, schema, rows)
    av.write_ocf(p2, schema, rows)
    a, b = open(p1, "rb").read(), open(p2, "rb").read()
    # same basename -> identical sync -> identical bytes modulo name
    av.write_ocf(p1, schema, rows)
    assert open(p1, "rb").read() == a
    assert len(a) == len(b)


def test_multi_block_files(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i} for i in range(10_000)]
    p = str(tmp_path / "t.avro")
    av.write_ocf(p, schema, rows, rows_per_block=512)
    _, it = av.read_ocf(p)
    assert list(it) == rows


# --- Spark round-trips over the repo tables -----------------------------------


def _digest(df):
    return sorted(
        tuple(r) for r in df.groupBy("lang", "source").agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("chars"),
            F.countDistinct(F.md5(F.col("text"))).alias("texts"),
        ).collect()
    )


def test_spark_roundtrip_documents(spark, sf_dir, tmp_path):
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "docs_avro")
    av.write_avro(src.repartition(4), out)
    parts = glob.glob(os.path.join(out, "part-*.avro"))
    assert len(parts) == 4  # one OCF per task, committed by rename
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert back.schema.fieldNames() == src.schema.fieldNames()
    assert _digest(back) == _digest(src)
    # partition-per-file parallelism
    assert back.rdd.getNumPartitions() == 4


def test_spark_roundtrip_embeddings_array_float(spark, sf_dir, tmp_path):
    src = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = str(tmp_path / "emb_avro")
    av.write_avro(src.repartition(2), out)
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    a = sorted(
        tuple(r) for r in src.select(
            "vec_id", F.round(F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x
            ), 4).alias("s")
        ).collect()
    )
    b = sorted(
        tuple(r) for r in back.select(
            "vec_id", F.round(F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x
            ), 4).alias("s")
        ).collect()
    )
    assert a == b


def test_spark_roundtrip_dates_and_timestamps(spark, tmp_path):
    src = spark.createDataFrame(
        [
            (1, datetime.date(1992, 1, 2),
             datetime.datetime(2026, 8, 16, 12, 34, 56, 789000)),
            (2, datetime.date(1970, 1, 1), datetime.datetime(1970, 1, 1)),
            (3, None, None),
        ],
        "id bigint, d date, ts timestamp",
    )
    out = str(tmp_path / "dt_avro")
    av.write_avro(src.coalesce(1), out)
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert dict(back.dtypes) == {"id": "bigint", "d": "date",
                                 "ts": "timestamp"}
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_spark_roundtrip_lineitem_slice(spark, sf_dir, tmp_path):
    """The widest real table: longs, doubles, strings, dates."""
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        2000
    )
    out = str(tmp_path / "li_avro")
    av.write_avro(src.repartition(3), out, codec="null")
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    a = src.agg(
        F.count("*"), F.sum("l_orderkey"),
        F.round(F.sum("l_extendedprice"), 2), F.max("l_shipdate"),
    ).collect()[0]
    b = back.agg(
        F.count("*"), F.sum("l_orderkey"),
        F.round(F.sum("l_extendedprice"), 2), F.max("l_shipdate"),
    ).collect()[0]
    assert tuple(a) == tuple(b)


# --- snappy blocks (pyarrow's snappy through avrocodec's helpers) -------------


def test_snappy_spec_tag_pins():
    snappy_compress, snappy_decompress = av.snappy_compress, av.snappy_decompress

    # hand-built streams per the format description's tag table
    # literal "hi", then 1-byte-offset copy (len 4, offset 2) -> hihihi
    s = bytes([6, (2 - 1) << 2]) + b"hi" + bytes([((4 - 4) << 2) | 1, 2])
    assert snappy_decompress(s) == b"hihihi"
    # 4-byte-offset copy
    s = (
        bytes([8, (4 - 1) << 2])
        + b"abcd"
        + bytes([((4 - 1) << 2) | 3])
        + (4).to_bytes(4, "little")
    )
    assert snappy_decompress(s) == b"abcdabcd"
    # overlapping forward copy: "x" then copy len 9 offset 1 -> "x"*10
    s = bytes([10, 0]) + b"x" + bytes([((9 - 1) << 2) | 2]) + (1).to_bytes(
        2, "little"
    )
    assert snappy_decompress(s) == b"x" * 10
    # round-trips incl. the >60-byte literal path and long runs
    import random

    rng = random.Random(7)
    for case in [
        b"",
        b"a" * 200_000,
        bytes(range(256)) * 40,
        bytes(rng.randrange(256) for _ in range(10_000)),
    ]:
        assert snappy_decompress(snappy_compress(case)) == case
    # corrupt: offset beyond output
    with pytest.raises(ValueError):
        snappy_decompress(bytes([4, ((4 - 4) << 2) | 1, 9]))


def test_avro_snappy_crc_guard(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    p = str(tmp_path / "t.avro")
    av.write_ocf(p, schema, [{"x": i} for i in range(100)], codec="snappy")
    _, it = av.read_ocf(p)
    assert [r["x"] for r in it] == list(range(100))
    # flip a byte inside the compressed block payload (just before the
    # trailing sync marker) -> the CRC-or-decoder must catch it
    buf = bytearray(open(p, "rb").read())
    buf[len(buf) - av.SYNC_SIZE - 2] ^= 0x01
    open(p, "wb").write(bytes(buf))
    _, it = av.read_ocf(p)
    with pytest.raises(ValueError):
        list(it)


def test_spark_roundtrip_snappy(spark, sf_dir, tmp_path):
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "docs_snappy")
    av.write_avro(src.repartition(2), out, codec="snappy")
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert _digest(back) == _digest(src)


def test_spark_roundtrip_method_shadowing_column_names(spark, tmp_path):
    """Row is a tuple subclass: columns named 'count' / 'index' shadow
    into bound methods under attribute access — the sink must index by
    name. Also pins exact microsecond timestamps (integer arithmetic,
    no float rounding)."""
    src = spark.createDataFrame(
        [(1, 10, datetime.datetime(2026, 8, 16, 1, 2, 3, 123457)),
         (2, 20, datetime.datetime(1969, 12, 31, 23, 59, 59, 999999))],
        "count bigint, index bigint, ts timestamp",
    )
    out = str(tmp_path / "shadow_avro")
    av.write_avro(src.coalesce(1), out)
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_arrow_and_row_paths_agree(spark, sf_dir, tmp_path):
    """The Arrow fast path (columnar batches, integer date/µs values
    fed straight to date32/timestamp('us')) must be value-identical to
    the row fallback across every mapped type."""
    src = spark.createDataFrame(
        [(1, "a", 2.5, [0.5, 1.5], datetime.date(2020, 2, 29),
          datetime.datetime(2026, 8, 16, 1, 2, 3, 123456), b"\x01\x02"),
         (2, None, -1.0, [], datetime.date(1969, 7, 20), None, b"")],
        "id bigint, s string, d double, v array<double>, dt date, "
        "ts timestamp, b binary",
    )
    out = str(tmp_path / "arrow_avro")
    av.write_avro(src.coalesce(1), out)
    spark.dataSource.register(av.AvroDataSource)
    fast = (spark.read.format("pyavro")
            .option("path", os.path.join(out, "part-*.avro")).load())
    slow = (spark.read.format("pyavro")
            .option("path", os.path.join(out, "part-*.avro"))
            .option("arrow", "false").load())
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b == sorted(map(tuple, src.collect()))


def test_map_type_routes_to_row_fallback(spark, tmp_path):
    """map<string,long> has no arrow mapping here — the reader must
    still produce correct rows via the fallback."""
    src = spark.createDataFrame(
        [(1, {"x": 10}), (2, {"y": -3, "z": 0})],
        "id bigint, m map<string,bigint>",
    )
    out = str(tmp_path / "map_avro")
    av.write_avro(src.coalesce(1), out)
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert sorted((r["id"], sorted(r["m"].items())) for r in back.collect()) \
        == sorted((r["id"], sorted(r["m"].items())) for r in src.collect())


def test_append_does_not_clobber_previous_write(spark, tmp_path):
    """mode('append') semantics: a second write_avro to the same path
    must add files, not silently os.replace() the first job's parts."""
    out = str(tmp_path / "append_avro")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    av.write_avro(df1.coalesce(1), out, codec="null")
    first_parts = set(glob.glob(os.path.join(out, "part-*.avro")))
    av.write_avro(df2.coalesce(1), out, codec="null")
    all_parts = set(glob.glob(os.path.join(out, "part-*.avro")))
    assert first_parts < all_parts and len(all_parts) == 2
    back = av.read_avro(spark, os.path.join(out, "part-*.avro"))
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_timestamp_micros_are_utc_epoch_on_disk(spark, tmp_path):
    """Avro spec: timestamp-micros stores UTC epoch micros. Under a
    non-UTC session timezone the file bytes must hold the UTC instant
    (not wall micros), and both read paths must preserve the instant.
    unix_micros() is instant-based, so the assertions are independent
    of both the session and the process timezone."""
    tz_conf = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_conf)
    spark.conf.set(tz_conf, "Asia/Kolkata")  # +05:30, no DST
    try:
        src = spark.sql(
            "select 1 as id, timestamp'2026-08-16 12:00:00.123456' as ts"
        )
        expect = src.selectExpr("unix_micros(ts) as m").collect()[0]["m"]
        # 12:00 IST == 06:30 UTC — pin the instant itself too
        assert expect == 1786861800123456
        out = str(tmp_path / "tz_avro")
        av.write_avro(src.coalesce(1), out, codec="null")
        path = glob.glob(os.path.join(out, "part-*.avro"))[0]
        _, rows = av.read_ocf(path)
        (rec,) = list(rows)
        assert rec["ts"] == expect
        # round-trip through BOTH read paths preserves the instant
        spark.dataSource.register(av.AvroDataSource)
        for arrow in ("true", "false"):
            back = (
                spark.read.format("pyavro")
                .option("path", os.path.join(out, "part-*.avro"))
                .option("arrow", arrow)
                .load()
            )
            got = back.selectExpr("unix_micros(ts) as m").collect()[0]["m"]
            assert got == expect, f"arrow={arrow}"
    finally:
        spark.conf.set(tz_conf, old)
