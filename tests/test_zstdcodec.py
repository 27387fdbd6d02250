"""`.zst` / `.lz4` text source/sink: pyarrow's bundled zstd and lz4
decode every frame shape the source meets.

Spec pins by hand-built frames (RLE block, reserved block, dictionary
id, bad magic, skippable frames) and pinned frames carrying checksums
(pyarrow writes none) go through the source's decode function; the
Spark tests drive whole files through the ``pyzst`` DataSource."""

from __future__ import annotations

import glob
import os
import random
import struct

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import parquet_to_csv_spark.sources.zstdsource as zs

# A checksummed zstd store frame (raw block, 8-byte content size,
# xxh64 content checksum) of b"checked payload": 35 bytes.
CHECKED_FRAME = bytes.fromhex(
    "28b52ffde40f00000000000000790000636865636b6564207061796c6f6164bbd21720"
)
# The same frame layout around an empty payload.
EMPTY_FRAME = bytes.fromhex("28b52ffde4000000000000000001000099e9d851")
# A stored-block lz4 frame of b"store " * 2000: descriptor with content
# size and content checksum, header checksum 0xa1, one stored block,
# EndMark, content xxh32.
LZ4_STORE_FRAME = (
    bytes.fromhex("04224d186c70e02e000000000000a1")
    + struct.pack("<I", (1 << 31) | 12000)
    + b"store " * 2000
    + bytes(4)
    + bytes.fromhex("1db4a8c5")
)


def _zstd(payload: bytes) -> bytes:
    return zs._decompress(payload, "zstd")


# --- spec pins -----------------------------------------------------------------


def test_checksum_verification():
    assert _zstd(CHECKED_FRAME) == b"checked payload"
    frame = bytearray(CHECKED_FRAME)
    frame[-1] ^= 0xFF
    with pytest.raises(OSError, match="checksum"):
        _zstd(bytes(frame))


def test_rle_block_and_empty_frame():
    # hand-built: RLE block of 1000 'Z's, no checksum; FCS needs the
    # 2-byte (+256 biased) field since 1000 exceeds a 1-byte size
    buf = bytearray(struct.pack("<IB", 0xFD2FB528, 0x60))
    buf += struct.pack("<H", 1000 - 256)
    buf += ((1000 << 3) | (1 << 1) | 1).to_bytes(3, "little")  # RLE last
    buf += b"Z"
    assert _zstd(bytes(buf)) == b"Z" * 1000
    # empty input, store mode
    assert _zstd(EMPTY_FRAME) == b""


def test_reserved_block_and_dictionary_rejected():
    buf = bytearray(struct.pack("<IB", 0xFD2FB528, 0x20))
    buf += bytes([0])  # FCS=0 via 1-byte field (single segment)
    buf += ((5 << 3) | (3 << 1) | 1).to_bytes(3, "little")  # reserved type
    with pytest.raises(OSError, match="corruption"):
        _zstd(bytes(buf))
    hdr = struct.pack("<IB", 0xFD2FB528, 0x21)  # dictionary-id flag
    # dictionary id 0 means "no dictionary": this frame is cut short
    with pytest.raises(OSError, match="Truncated"):
        _zstd(hdr + b"\x00" * 8)
    with pytest.raises(OSError, match="Dictionary mismatch"):
        _zstd(hdr + bytes([7]) + b"\x00" * 7)
    with pytest.raises(OSError, match="Unknown frame descriptor"):
        _zstd(b"\x00\x01\x02\x03rest")


def test_skippable_and_multi_frame():
    c = pa.Codec("zstd")
    f1 = bytes(c.compress(b"first " * 50))
    f2 = bytes(c.compress(b"second " * 50))
    skip = struct.pack("<II", 0x184D2A5F, 4) + b"meta"
    out = _zstd(f1 + skip + f2)
    assert out == b"first " * 50 + b"second " * 50


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decode_matches_real_zstd(level):
    """The sink's one-shot frames at each ``level`` decode through the
    source's streaming decoder."""
    random.seed(level)
    words = [b"spark", b"zstd", b"frame", b"lake", b"graft", b"\xc3\xa9"]
    payloads = [
        b" ".join(random.choice(words) for _ in range(5000)),
        b"A" * 60000 + b"B" * 30000,
        random.randbytes(40000),
        bytes(random.choices(range(6), weights=[80, 40, 10, 4, 2, 1],
                             k=120000)),
        (b"0123456789abcdef" * 32 + random.randbytes(32)) * 50,
        b"",
        b"x",
    ]
    c = pa.Codec("zstd", compression_level=level)
    for p in payloads:
        assert _zstd(bytes(c.compress(p))) == p


def test_multiblock_over_128k():
    p = (b"multi block window " * 20000)  # ~380 KB -> >1 block
    enc = bytes(pa.Codec("zstd", compression_level=3).compress(p))
    assert _zstd(enc) == p


def test_streaming_mode_frames_from_compressed_output_stream():
    """CLI tools and pa.CompressedOutputStream emit WINDOWED frames
    (no single-segment flag, no content size) — the frame-header path
    the one-shot compressor never produces."""
    expect = b"".join(
        f"row-{i} streaming frame test\n".encode() for i in range(2000)
    )
    buf = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf, "zstd") as f:
        f.write(expect)
    enc = bytes(buf.getvalue())
    assert enc[4] & 0x20 == 0  # windowed, not single-segment
    assert _zstd(enc) == expect
    buf2 = pa.BufferOutputStream()
    with pa.CompressedOutputStream(buf2, "lz4") as f:
        f.write(expect)
    assert zs._decompress(bytes(buf2.getvalue()), "lz4") == expect


def test_lz4_store_frame_and_header_checksum():
    assert zs._decompress(LZ4_STORE_FRAME, "lz4") == b"store " * 2000
    # header checksum is verified
    bad = bytearray(LZ4_STORE_FRAME)
    bad[14] ^= 0xFF  # HC byte (4 magic + 2 FLG/BD + 8 size)
    with pytest.raises(OSError, match="headerChecksum"):
        zs._decompress(bytes(bad), "lz4")


# --- Spark source/sink -----------------------------------------------------------


def test_spark_roundtrip_jsonl_zst(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = docs.select(F.to_json(F.struct("doc_id", "lang", "text"))
                      .alias("value"))
    out = str(tmp_path / "docs_zst")
    zs.write_text_zst(src.repartition(3), out)
    parts = glob.glob(os.path.join(out, "part-*.zst"))
    assert len(parts) == 3
    back = zs.read_text_zst(spark, os.path.join(out, "part-*.zst"))
    assert back.schema.simpleString() == "struct<value:string>"
    assert back.rdd.getNumPartitions() == 3
    a = sorted(r["value"] for r in src.collect())
    b = sorted(r["value"] for r in back.collect())
    assert a == b
    # and the lines parse back to the source rows
    parsed = spark.read.json(back.rdd.map(lambda r: r["value"]))
    assert parsed.count() == docs.count()


def test_spark_reads_foreign_real_zstd_file(spark, tmp_path):
    lines = "\n".join(f"line-{i}" for i in range(1000)) + "\n"
    enc = bytes(pa.Codec("zstd", compression_level=9)
                .compress(lines.encode()))
    p = tmp_path / "foreign.zst"
    p.write_bytes(enc)
    back = zs.read_text_zst(spark, str(p))
    assert back.count() == 1000
    assert back.agg(F.min("value"), F.max("value")).collect()[0] == (
        "line-0", "line-999",
    )


def test_spark_read_rejects_corrupt_checksum(spark, tmp_path):
    bad = bytearray(CHECKED_FRAME)
    bad[-1] ^= 0xFF
    p = tmp_path / "bad.zst"
    p.write_bytes(bytes(bad))
    with pytest.raises(Exception) as err:
        zs.read_text_zst(spark, str(p)).collect()
    assert "checksum" in str(err.value)


def test_append_does_not_clobber(spark, tmp_path):
    out = str(tmp_path / "app_zst")
    df1 = spark.createDataFrame([("a",), ("b",)], "value string")
    df2 = spark.createDataFrame([("c",)], "value string")
    zs.write_text_zst(df1.coalesce(1), out)
    first = set(glob.glob(os.path.join(out, "part-*.zst")))
    zs.write_text_zst(df2.coalesce(1), out)
    assert first < set(glob.glob(os.path.join(out, "part-*.zst")))
    back = zs.read_text_zst(spark, os.path.join(out, "part-*.zst"))
    assert sorted(r["value"] for r in back.collect()) == ["a", "b", "c"]


def test_spark_roundtrip_lz4_text(spark, tmp_path):
    src = spark.createDataFrame(
        [(f"row-{i}",) for i in range(500)], "value string"
    )
    out = str(tmp_path / "txt_lz4")
    zs.write_text_zst(src.repartition(2), out, codec="lz4")
    parts = glob.glob(os.path.join(out, "part-*.lz4"))
    assert len(parts) == 2
    back = zs.read_text_zst(spark, os.path.join(out, "part-*.lz4"))
    assert sorted(r["value"] for r in back.collect()) == sorted(
        r["value"] for r in src.collect()
    )
