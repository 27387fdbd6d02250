"""Python DataSource (Spark 4 API) — deterministic synthetic corpus.

EXT E319: the newest extension surface in Spark (4.x
``pyspark.sql.datasource``): a first-class, partition-parallel SOURCE
implemented in Python and registered like any format. This one
GENERATES a deterministic synthetic document corpus from row ids —
the scale-testing workhorse: a 100 TB corpus materializes on demand
across executors with zero storage, and because every field is a pure
function of the row id, the DuckDB oracle replays aggregate digests
with arithmetic alone (the E309 discipline applied to a source).

Usage::

    spark.dataSource.register(SyntheticDocsDataSource)
    df = (spark.read.format("synthetic_docs")
          .option("n_rows", 100000).option("n_partitions", 32).load())

Each partition generates its own contiguous id range — no driver
bottleneck, no shuffle; parallelism is the ``n_partitions`` option.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

# Deterministic content model (pure functions of doc_id — keep in sync
# with the oracle in plans/registry.py):
#   lang    = LANGS[doc_id % 5]
#   source  = "synth" || (doc_id % 4)
#   text    = "tok<doc_id % 97>" repeated (doc_id % 13 + 3) times,
#             joined by single spaces
LANGS = ["en", "de", "fr", "es", "pt"]
_SCHEMA = "doc_id bigint, lang string, source string, text string, n_tokens bigint"


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self):
        per = (self.n_rows + self.n_partitions - 1) // self.n_partitions
        return [
            _RangePartition(i * per, min((i + 1) * per, self.n_rows))
            for i in range(self.n_partitions)
            if i * per < self.n_rows
        ]

    def read(self, partition: _RangePartition) -> Iterator:
        # ONE Arrow RecordBatch per partition, fields computed with
        # vectorized numpy modular arithmetic — the Python DataSource
        # API accepts pyarrow batches directly, skipping per-row tuple
        # pickling entirely (measured 13x on the 20k digest query).
        # Content model unchanged (pure functions of doc_id, see
        # module docstring) — the DuckDB oracle is byte-identical.
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype=np.int64)
        reps = ids % 13 + 3
        toks = np.char.add("tok", (ids % 97).astype(str))
        texts = [
            " ".join([t] * int(r))
            for t, r in zip(toks.tolist(), reps.tolist())
        ]
        yield pa.record_batch(
            {
                "doc_id": ids,
                "lang": np.array(LANGS)[ids % 5],
                "source": np.char.add("synth", (ids % 4).astype(str)),
                "text": texts,
                "n_tokens": reps,
            }
        )


class SyntheticDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema: StructType) -> SyntheticDocsReader:
        return SyntheticDocsReader(schema, self.options)


def synthetic_docs(spark, n_rows: int = 100_000, n_partitions: int = 32):
    """Register (idempotent) and read the synthetic corpus source."""
    spark.dataSource.register(SyntheticDocsDataSource)
    return (
        spark.read.format("synthetic_docs")
        .option("n_rows", n_rows)
        .option("n_partitions", n_partitions)
        .load()
    )


def synthetic_source_digest(spark, sf_dir: str, n_rows: int = 20_000):
    """EXT E319 gate query: aggregate digest of the generated corpus —
    per (lang, source): row count, token mass, distinct texts, and an
    exact integer id-sum — which the DuckDB oracle derives from the
    content FORMULAS over ``range(n_rows)`` without ever running the
    Python source. Any generation defect (partition boundary bug,
    modulo drift, repetition error) breaks a value. ``sf_dir`` unused
    (generated workload; uniform registry signature)."""
    from pyspark.sql import functions as F

    df = synthetic_docs(spark, n_rows=n_rows)
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("token_mass"),
        F.count_distinct("text").alias("n_distinct_texts"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("text")).alias("char_mass"),
    )


# ---------------------------------------------------------------------------
# E335: the WRITE side of the Python DataSource API — a JSONL sink with
# a real task-commit protocol (temp file per task → rename on driver
# commit, delete on abort), i.e. the atomicity contract Spark's builtin
# committers give, expressed in pure Python. Together with the reader
# above, the engine demonstrates the full Spark-4 custom-connector
# surface in both directions.
# ---------------------------------------------------------------------------

import json as _json
import os as _os
import uuid as _uuid

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, n_rows: int):
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, rows):
        _os.makedirs(_os.path.join(self.path, "_tmp"), exist_ok=True)
        tmp = _os.path.join(self.path, "_tmp", f"part-{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for row in rows:
                f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return _JsonlCommit(tmp, n)

    def commit(self, messages):
        total = 0
        for i, m in enumerate(messages):
            final = _os.path.join(self.path, f"part-{i:05d}.jsonl")
            _os.rename(m.tmp_path, final)
            total += m.n_rows
        with open(_os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(str(total))

    def abort(self, messages):
        for m in messages:
            if m is not None and _os.path.exists(m.tmp_path):
                _os.remove(m.tmp_path)


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool):
        return JsonlSinkWriter(self.options)


def write_jsonl_sink(df, path: str) -> None:
    """Write ``df`` through the Python-DataSource JSONL sink (task-temp
    → driver-commit rename protocol; `_SUCCESS` carries the row
    count)."""
    spark = df.sparkSession
    spark.dataSource.register(JsonlSinkDataSource)
    df.write.format("jsonl_sink").option("path", path).mode("append").save()


# ---------------------------------------------------------------------------
# E371: the STREAMING side of the Python DataSource API (Spark 4
# ``SimpleDataSourceStreamReader``) — a deterministic counter stream.
# The reader owns its offset (a plain dict checkpointed by Spark),
# advances at most ``step`` ids per micro-batch up to ``n_rows``, and
# can replay any [start, end) range exactly (``readBetweenOffsets`` —
# the recovery contract: offsets are durable, data is re-derivable).
# Every value is a pure function of the row id, so the DuckDB oracle
# replays the drained stream with arithmetic over ``range(n)`` — the
# E319 discipline applied to a STREAM.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader

_KNUTH = 2654435761
_VMOD = 1000003


class CounterStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 5000))
        self.step = int(options.get("step", 1000))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        for i in range(start, end):
            yield (i, (i * _KNUTH) % _VMOD)

    def read(self, start: dict):
        lo = start["pos"]
        hi = min(lo + self.step, self.n_rows)
        # a PICKLABLE iterator (list_iterator), not a generator: the
        # runner prefetches the batch on the driver (calls next() to
        # cache it) and then pickles the entry to executors — a raw
        # generator fails the pickle, a plain list fails the next()
        return iter(list(self._rows(lo, hi))), {"pos": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._rows(start["pos"], end["pos"])))


class CounterStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "counter_stream"

    def schema(self) -> str:
        return "id bigint, v bigint"

    def simpleStreamReader(self, schema: StructType) -> CounterStreamReader:
        return CounterStreamReader(self.options)


def python_stream_digest(spark, sf_dir: str, n_rows: int = 3000, step: int = 1000):
    """EXT E371 gate query: drain the Python streaming source through a
    real ``writeStream`` (parquet sink + checkpoint — the durable
    exactly-once pairing), then digest the landed rows per value
    bucket. ``processAllAvailable`` drives the reader through
    ceil(n_rows/step) micro-batches until the offset stops moving; any
    offset-advance bug (skipped range, double-read on the batch
    boundary, replay drift) breaks the exact id/value sums. ``sf_dir``
    unused (generated workload; uniform registry signature); the
    drained parquet and its checkpoint land in one
    ``layout.claim_artifact`` stage keyed by (n_rows, step) —
    build-once/serve-many, like every other staged artifact here.
    """
    import os

    from pyspark.sql import functions as F

    from parquet_to_csv_spark.sources.layout import claim_artifact

    def _build(stage: str) -> None:
        spark.dataSource.register(CounterStreamDataSource)
        q = (
            spark.readStream.format("counter_stream")
            .option("n_rows", n_rows)
            .option("step", step)
            .load()
            .writeStream.format("parquet")
            .option("path", os.path.join(stage, "out"))
            .option("checkpointLocation", os.path.join(stage, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    stage = claim_artifact(spark, f"pystream_n{n_rows}_s{step}", _build)
    landed = spark.read.schema("id bigint, v bigint").parquet(
        os.path.join(stage, "out")
    )
    return landed.groupBy((F.col("v") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("id_sum"),
        F.sum("v").alias("v_sum"),
        F.count_distinct("id").alias("n_distinct_ids"),
    )
