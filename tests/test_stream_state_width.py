"""State width of a memory-sink drain: ``stream.run_to_memory`` starts
its query at one state partition, and what it drains equals the same
stream drained through a plain ``writeStream`` at 8 partitions. No other
test varies the width of a drain: every drain sets its own, so a
session-wide ``spark.sql.shuffle.partitions`` never reaches it."""

from __future__ import annotations

import glob
import os

import pytest

from parquet_to_csv_spark.sources.tables import load_table
from parquet_to_csv_spark.streaming import stateful, stream

DRAINS = {
    "tumbling": (stream.streaming_tumbling_counts, "complete"),
    "dedup": (stream.streaming_dedup, "append"),
    "stateful": (stateful.stateful_user_totals, "update"),
}


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """The events fixture as 12 files with distinct, increasing mtimes:
    two micro-batches (``maxFilesPerTrigger`` is 8), the same two for
    every drain of the directory."""
    out = str(tmp_path_factory.mktemp("evwidth"))
    events = load_table(spark, sf_dir, "events").repartition(12)
    events.write.mode("overwrite").parquet(out)
    for i, f in enumerate(sorted(glob.glob(os.path.join(out, "part-*.parquet")))):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def _partitions(spark, ckpt: str) -> list[int]:
    meta = spark.read.format("state-metadata").load(ckpt)
    return [r["numPartitions"] for r in meta.collect()]


def _last_per_user(rows) -> dict:
    """An update-mode sink holds one row per user per micro-batch; the
    user's last one has the most events."""
    last: dict = {}
    for r in rows:
        if r["user_id"] not in last or r["n_events"] > last[r["user_id"]]["n_events"]:
            last[r["user_id"]] = r
    return last


@pytest.mark.parametrize("kind", sorted(DRAINS))
def test_memory_drain_starts_at_one_state_partition(spark, event_dir, tmp_path, kind):
    build, mode = DRAINS[kind]
    ckpt = str(tmp_path / "ckpt")
    one, eight = f"t_width1_{kind}", f"t_width8_{kind}"
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
    try:
        got = stream.run_to_memory(
            build(stream.read_event_stream(spark, event_dir)), one, spark,
            output_mode=mode,
        ).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev_width
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            build(stream.read_event_stream(spark, event_dir))
            .writeStream.format("memory")
            .queryName(eight)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        want = spark.table(eight).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
        spark.conf.unset("spark.sql.streaming.checkpointLocation")

    widths = _partitions(spark, os.path.join(ckpt, one))
    assert widths and set(widths) == {1}
    assert set(_partitions(spark, os.path.join(ckpt, eight))) == {8}
    assert got
    if mode == "update":
        assert _last_per_user(got) == _last_per_user(want)
    else:
        assert sorted(got) == sorted(want)
    spark.catalog.dropTempView(one)
    spark.catalog.dropTempView(eight)
