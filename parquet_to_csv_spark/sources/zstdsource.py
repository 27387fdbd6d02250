"""`.zst` / `.lz4` TEXT source/sink on the Spark 4 Python DataSource surface.

Closes the SURVEY §2.7 "zstd TEXT codec" boundary end to end.
Hadoop's ZStandardCodec needs libzstd (absent in this container), so
`spark.read.text("*.zst")` cannot work JVM-side. pyarrow, already the
package's Parquet library, bundles real zstd and lz4 and is the one
codec here: there is no option to pick a decoder.

- ``read_text_zst(spark, glob)`` — the ``pyzst`` DataSource: one
  partition per FILE (the parallelism unit of every compressed-text
  source at 100 TB — .zst files, like .gz, are not splittable without
  a seek table), each executor decompresses its file and yields a
  ``value: string`` row per line, exactly like ``spark.read.text``.
  Decoding streams through ``pa.CompressedInputStream``, which needs no
  decompressed size, so foreign frames without a content size (CLI
  tools, streaming writers) read like our own.
- ``write_text_zst(df, path, level)`` — a DataSourceWriter sink: one
  ``part-*.zst`` per task (job-unique names — append-safe), compressed
  one-shot by ``pa.Codec`` at ``level``.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


def _codec_of(path: str, option: str | None) -> str:
    if option:
        return option
    return "lz4" if path.endswith(".lz4") else "zstd"


def _decompress(payload: bytes, codec: str) -> bytes:
    """Every frame of ``payload`` (zstd, or lz4 frame format) decoded;
    a corrupt frame raises ``OSError``."""
    return pa.CompressedInputStream(pa.BufferReader(payload), codec).read()


class _ZstFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ZstTextReader(DataSourceReader):
    def __init__(self, options: dict):
        import glob as _glob

        pat = options["path"]
        self.paths = sorted(_glob.glob(pat)) or [pat]
        self.codec = options.get("codec")

    def partitions(self):
        return [_ZstFilePartition(p) for p in self.paths]

    def read(self, partition: _ZstFilePartition):
        with open(partition.path, "rb") as f:
            raw = _decompress(f.read(), _codec_of(partition.path, self.codec))
        text = raw.decode("utf-8")
        lines = text.split("\n")
        if lines and lines[-1] == "":
            lines.pop()  # trailing newline is a terminator, not a row
        # picklable iterator contract of the Python DataSource runner
        return iter([(ln,) for ln in lines])


class ZstTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyzst"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema):
        return ZstTextReader(self.options)


class _ZstCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str):
        self.tmp_path = tmp_path


class ZstTextSinkWriter(DataSourceWriter):
    def __init__(self, options: dict):
        import uuid

        self.path = options["path"]
        self.level = int(options.get("level", "3"))
        self.column = options.get("column", "value")
        self.codec = options.get("codec", "zstd")
        self.job_token = uuid.uuid4().hex[:12]

    def _compress(self, data: bytes) -> bytes:
        kw = {"compression_level": self.level} if self.codec == "zstd" else {}
        return bytes(pa.Codec(self.codec, **kw).compress(data))

    def write(self, rows):
        import uuid

        buf = bytearray()
        for r in rows:
            v = r[self.column]
            buf += (v if v is not None else "").encode("utf-8")
            buf += b"\n"
        os.makedirs(self.path, exist_ok=True)
        ext = "lz4" if self.codec == "lz4" else "zst"
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex[:12]}.{ext}")
        with open(tmp, "wb") as f:
            f.write(self._compress(bytes(buf)))
        return _ZstCommit(tmp)

    def commit(self, messages):
        ext = "lz4" if self.codec == "lz4" else "zst"
        for i, m in enumerate(messages):
            final = os.path.join(
                self.path, f"part-{i:05d}-{self.job_token}.{ext}"
            )
            os.replace(m.tmp_path, final)

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.tmp_path)
            except (FileNotFoundError, TypeError):
                pass


class ZstTextSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyzst_sink"

    def writer(self, schema, overwrite: bool):
        return ZstTextSinkWriter(self.options)


def read_text_zst(spark, path: str, codec: str | None = None):
    """Read a file / glob of zstd- or lz4-compressed text, one
    partition per file, as a ``value: string`` DataFrame (the
    ``spark.read.text`` contract). The codec defaults from the file
    extension (``.lz4`` → lz4, else zstd)."""
    spark.dataSource.register(ZstTextDataSource)
    reader = spark.read.format("pyzst").option("path", path)
    if codec:
        reader = reader.option("codec", codec)
    return reader.load()


def write_text_zst(df, path: str, level: int = 3, column: str = "value",
                   codec: str = "zstd"):
    """Write one string column as a directory of ``part-*.zst`` /
    ``part-*.lz4`` files (one per task, job-unique names)."""
    df.sparkSession.dataSource.register(ZstTextSinkDataSource)
    (
        df.write.format("pyzst_sink")
        .option("path", path)
        .option("level", str(level))
        .option("column", column)
        .option("codec", codec)
        .mode("append")
        .save()
    )
