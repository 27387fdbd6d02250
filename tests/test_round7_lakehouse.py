"""Round-7 lakehouse write path: MERGE INTO (E449), OPTIMIZE executor
(E450), schema evolution on append (E451).

The oracle gate rows (`merge_upsert_report`, `merge_cdc_report`,
`optimize_table_report`, `schema_evolution_report`) pin value
correctness against DuckDB; these tests pin the PROTOCOL — atomicity,
concurrency (two-writer retry / loud conflicts), zero-rewrite
mechanics, time-travel preservation, and the loud rejection paths.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from parquet_to_csv_spark.sources import layout
from parquet_to_csv_spark.sources.tables import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )


def _manifest(t, v):
    """Manifest view with the round-8 two-level file lists materialized
    (tests assert on file sets; the on-disk format is segment-based)."""
    man = dict(json.load(open(os.path.join(t, "manifests", f"v{v}.json"))))
    man["files"] = layout._man_files(t, man)
    man["delete_files"] = layout._man_delete_files(t, man)
    return man


# --- MERGE INTO ------------------------------------------------------------


def test_merge_updates_and_inserts_row_level(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev)
    changes = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") + F.lit(50.0)
    ).unionByName(
        ev.filter(F.col("event_id") % 9 == 0).select(
            (F.col("event_id") + F.lit(777000000)).alias("event_id"),
            F.lit("upserted").alias("event_type"),
            F.col("value"),
        )
    )
    v = layout.merge_into(spark, t, changes, "event_id")
    assert v == 1
    cur = layout.read_version(spark, t)
    n_base = ev.count()
    n_ins = ev.filter(F.col("event_id") % 9 == 0).count()
    assert cur.count() == n_base + n_ins  # updates don't change cardinality
    # row-level: an updated key carries the NEW image exactly once
    some = ev.filter(F.col("event_id") % 5 == 0).limit(1).collect()[0]
    got = cur.filter(F.col("event_id") == some["event_id"]).collect()
    assert len(got) == 1
    assert got[0]["value"] == pytest.approx(some["value"] + 50.0)
    # data files of v0 are untouched (zero-rewrite merge)
    assert set(_manifest(t, 0)["files"]) <= set(_manifest(t, 1)["files"])
    # time travel: v0 still shows the OLD image
    old = layout.read_version(spark, t, 0).filter(
        F.col("event_id") == some["event_id"]
    ).collect()
    assert old[0]["value"] == pytest.approx(some["value"])


def test_merge_rejects_duplicate_source_keys(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    dup = ev.limit(3).unionByName(ev.limit(3))
    with pytest.raises(ValueError, match="cardinality"):
        layout.merge_into(spark, t, dup, "event_id")


def test_merge_rejects_schema_mismatch(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    with pytest.raises(ValueError):
        layout.merge_into(
            spark, t, ev.limit(5).drop("value"), "event_id"
        )
    with pytest.raises(ValueError):
        layout.merge_into(
            spark, t,
            ev.limit(5).withColumn("value", F.col("value").cast("string")),
            "event_id",
        )


def test_merge_two_writer_retry_lands_both(spark, sf_dir, tmp_path):
    """Two concurrent merges with disjoint key sets: the manifest-link
    loser must recompute its delete vector against the winner's
    snapshot and land on the next version — both upserts durable."""
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev)
    c_a = ev.filter(F.col("event_id") % 4 == 1).withColumn(
        "value", F.col("value") + F.lit(10.0)
    )
    c_b = ev.filter(F.col("event_id") % 4 == 2).withColumn(
        "value", F.col("value") + F.lit(20.0)
    )
    gate = threading.Barrier(2)
    results, errors = [], []

    def run(ch):
        try:
            gate.wait(timeout=60)
            results.append(layout.merge_into(spark, t, ch, "event_id"))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=run, args=(c,)) for c in (c_a, c_b)]
    for th in ts:
        th.start()
    for th in ts:
        th.join(timeout=300)
    assert not errors, errors
    assert sorted(results) == [1, 2]
    cur = layout.read_version(spark, t)
    assert cur.count() == ev.count()  # pure updates
    got_a = cur.filter(F.col("event_id") % 4 == 1)
    got_b = cur.filter(F.col("event_id") % 4 == 2)
    base_a = ev.filter(F.col("event_id") % 4 == 1)
    base_b = ev.filter(F.col("event_id") % 4 == 2)
    assert got_a.agg(F.sum("value")).first()[0] == pytest.approx(
        base_a.agg(F.sum("value")).first()[0] + 10.0 * base_a.count()
    )
    assert got_b.agg(F.sum("value")).first()[0] == pytest.approx(
        base_b.agg(F.sum("value")).first()[0] + 20.0 * base_b.count()
    )


def test_merge_cdc_shows_update_as_delete_plus_insert(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev)
    key = ev.limit(1).collect()[0]
    changes = ev.filter(F.col("event_id") == key["event_id"]).withColumn(
        "value", F.col("value") + F.lit(99.0)
    )
    layout.merge_into(spark, t, changes, "event_id")
    feed = layout.snapshot_cdc_feed(spark, t, 0, 1).filter(
        F.col("event_id") == key["event_id"]
    )
    rows = {r["_change_type"]: r for r in feed.collect()}
    assert set(rows) == {"insert", "delete"}
    assert rows["delete"]["value"] == pytest.approx(key["value"])  # before
    assert rows["insert"]["value"] == pytest.approx(key["value"] + 99.0)


# --- OPTIMIZE --------------------------------------------------------------


def test_optimize_compacts_squashes_and_preserves_history(
    spark, sf_dir, tmp_path
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(16))
    layout.commit_deletes(spark, t, "value <= 2.0")
    pre_rows = sorted(
        layout.read_version(spark, t, 1).collect(),
        key=lambda r: r["event_id"],
    )
    v = layout.optimize_table(spark, t)
    assert v == 2
    man_pre, man_post = _manifest(t, 1), _manifest(t, 2)
    assert len(man_post["files"]) < len(man_pre["files"])
    assert not man_post.get("delete_files")  # vectors squashed
    post_rows = sorted(
        layout.read_version(spark, t, 2).collect(),
        key=lambda r: r["event_id"],
    )
    assert post_rows == pre_rows  # same rows, bit-identical
    # pre-OPTIMIZE versions still read exactly (time travel intact)
    assert sorted(
        layout.read_version(spark, t, 1).collect(),
        key=lambda r: r["event_id"],
    ) == pre_rows
    assert layout.read_version(spark, t, 0).count() == ev.count()
    # the rewritten files are orphan-eligible history for vacuum, not
    # referenced by the new manifest
    assert not set(man_pre["files"]) & set(man_post["files"])


def test_optimize_conflicts_on_concurrent_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(4))

    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state = {"fired": False}

    def hooked(self, path, *a, **kw):
        if "/data/opt" in path and not state["fired"]:
            state["fired"] = True
            layout.commit_deletes(spark, t, "value <= 1.0")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", hooked)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        layout.optimize_table(spark, t)
    assert state["fired"]
    # the concurrent delete survived as latest
    assert _manifest(t, layout.latest_version(t))["mode"] == "delete"


# --- schema evolution -------------------------------------------------------


def test_schema_evolution_rejects_type_change(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    changed = ev.limit(5).withColumn("value", F.col("value").cast("string"))
    with pytest.raises(ValueError, match="cannot CHANGE column types"):
        layout.commit_version(spark, t, changed, mode="append")
    with pytest.raises(ValueError, match="cannot CHANGE column types"):
        layout.commit_version(
            spark, t, changed, mode="append", merge_schema=True
        )


def test_schema_evolution_requires_flag_for_new_columns(
    spark, sf_dir, tmp_path
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    wider = ev.limit(5).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="merge_schema=True"):
        layout.commit_version(spark, t, wider, mode="append")


def test_schema_evolution_null_fills_both_directions(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    # new column: old rows null-filled backward
    wider = (
        ev.filter(F.col("event_id") % 2 == 0).limit(50)
        .select(
            (F.col("event_id") + F.lit(500000000)).alias("event_id"),
            "event_type", "value",
        )
        .withColumn("extra", F.lit(7).cast("long"))
    )
    layout.commit_version(spark, t, wider, mode="append", merge_schema=True)
    cur = layout.read_version(spark, t)
    assert "extra" in cur.columns
    assert cur.filter(F.col("extra").isNull()).count() == 100
    assert cur.filter(F.col("extra") == 7).count() == 50
    # missing column: appended rows null-filled forward (S3 semantics)
    narrower = ev.limit(5).select(
        (F.col("event_id") + F.lit(600000000)).alias("event_id"),
        "event_type",
    )
    layout.commit_version(
        spark, t, narrower, mode="append", merge_schema=True
    )
    cur = layout.read_version(spark, t)
    assert cur.filter(F.col("value").isNull()).count() == 5
    assert cur.count() == 155
    # E329 drift report agrees with the evolution just performed
    drift = layout.schema_drift(spark, t, 0, 1)
    assert drift["added"] == ["extra"]
    assert drift["removed"] == [] and drift["type_changed"] == []
    assert drift["compatible"]


def test_schema_evolution_survives_optimize_and_deletes(
    spark, sf_dir, tmp_path
):
    """Evolved tables keep working through the other write surfaces:
    position deletes read with mergeSchema, OPTIMIZE normalizes the
    layout so the merge_schema flag drops from the manifest."""
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    wider = ev.limit(20).select(
        (F.col("event_id") + F.lit(500000000)).alias("event_id"),
        "event_type", "value",
    ).withColumn("extra", F.lit(3).cast("long"))
    layout.commit_version(spark, t, wider, mode="append", merge_schema=True)
    layout.commit_deletes(spark, t, "extra = 3 AND event_id % 2 = 0")
    n_del = layout.read_version(spark, t).count()
    v = layout.optimize_table(spark, t)
    man = _manifest(t, v)
    assert "merge_schema" not in man
    cur = layout.read_version(spark, t)
    assert cur.count() == n_del
    assert "extra" in cur.columns


# --- E452 CDC apply / E453 streaming merge sink ------------------------------


def test_apply_cdc_feed_replicates_exactly(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, src, ev)
    changes = ev.filter(F.col("event_id") % 6 == 0).withColumn(
        "value", F.col("value") + F.lit(5.0)
    )
    layout.merge_into(spark, src, changes, "event_id")
    layout.commit_deletes(spark, src, "event_type = 'error'")
    # replica forks at v0 and consumes the full feed
    layout.clone_table(src, dst)  # clones LATEST — so clone from a fresh v0 copy instead
    import shutil

    shutil.rmtree(dst)
    layout.commit_version(spark, dst, ev)  # replica starts equal to src v0
    feed = layout.snapshot_cdc_feed(spark, src, 0, 2)
    layout.apply_cdc_feed(spark, dst, feed, "event_id")
    a = sorted(
        layout.read_version(spark, src).collect(), key=lambda r: r["event_id"]
    )
    b = sorted(
        layout.read_version(spark, dst).collect(), key=lambda r: r["event_id"]
    )
    assert a == b


def test_streaming_merge_sink_is_batch_split_invariant(spark, sf_dir, art_root):
    """The drain's final table equals the plain batch truth regardless
    of how files landed in micro-batches (oracle pins values; here we
    pin the version count: one merge commit per micro-batch + v0)."""
    import os

    from parquet_to_csv_spark.streaming.stream import (
        _staged_once, streaming_merge_sink_drain,
    )

    streaming_merge_sink_drain(spark, sf_dir).collect()
    root = _staged_once(spark, sf_dir, "events", "mergesink_", lambda p: None)
    t = os.path.join(root, "tbl")
    # 4 files / maxFilesPerTrigger=2 ⇒ 2 micro-batches ⇒ versions 0..2
    assert layout.latest_version(t) == 2
    assert _manifest(t, 1)["mode"] == "merge"
    assert _manifest(t, 2)["mode"] == "merge"


# --- E454 pruned reads / E455 clustered optimize ----------------------------


def test_pruned_read_skips_files_only_after_clustering(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(12))
    truth = ev.filter("value >= 2.0 AND value <= 3.0").count()
    df, opened_pre, total_pre = layout.pruned_snapshot_read(
        spark, t, "value", 2.0, 3.0
    )
    assert df.count() == truth
    assert total_pre == 12
    # random layout: value spans every file — nothing skippable
    assert opened_pre == 12
    layout.optimize_table(spark, t, target_file_bytes=1 << 13, order_col="value")
    df2, opened_post, total_post = layout.pruned_snapshot_read(
        spark, t, "value", 2.0, 3.0
    )
    assert df2.count() == truth
    assert total_post > 1
    assert opened_post < total_post  # clustering made stats selective


def test_pruned_read_composes_with_delete_vectors(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(6))
    layout.commit_deletes(spark, t, "value >= 2.5 AND value <= 2.7")
    df, _, _ = layout.pruned_snapshot_read(spark, t, "value", 2.0, 3.0)
    assert df.count() == ev.filter(
        "value >= 2.0 AND value <= 3.0 AND NOT (value >= 2.5 AND value <= 2.7)"
    ).count()


def test_clustered_optimize_preserves_rows_exactly(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(10))
    layout.commit_deletes(spark, t, "value <= 1.0")
    pre = sorted(
        layout.read_version(spark, t).collect(), key=lambda r: r["event_id"]
    )
    layout.optimize_table(spark, t, target_file_bytes=1 << 16, order_col="value")
    post = sorted(
        layout.read_version(spark, t).collect(), key=lambda r: r["event_id"]
    )
    assert pre == post


# --- E465 incremental optimize / E468 clone-aware vacuum / E469 AS OF -------


def test_incremental_optimize_is_partial_and_restartable(
    spark, sf_dir, tmp_path
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(10))
    layout.commit_deletes(spark, t, "value <= 1.5")
    truth = sorted(
        layout.read_version(spark, t).collect(), key=lambda r: r["event_id"]
    )
    n = ev.count()
    files0 = set(_manifest(t, 1)["files"])
    v2 = layout.optimize_batches(spark, t, target_rows=max(n * 2 // 5, 1))
    assert v2 == 2
    files2 = set(_manifest(t, 2)["files"])
    # PARTIAL: some original files still live, some were rewritten
    assert files0 & files2 and files2 - files0
    assert len(files2) < len(files0)
    assert sorted(
        layout.read_version(spark, t).collect(), key=lambda r: r["event_id"]
    ) == truth
    # restartable: the next run compacts the next batch, same rows
    v3 = layout.optimize_batches(spark, t, target_rows=max(n * 2 // 5, 1))
    if v3 != v2:  # something left to compact
        assert sorted(
            layout.read_version(spark, t).collect(),
            key=lambda r: r["event_id"],
        ) == truth
        assert len(_manifest(t, v3)["files"]) <= len(files2)


def test_incremental_optimize_conflicts_on_new_delete_vector(
    spark, sf_dir, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.repartition(8))

    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state = {"fired": False}

    def hooked(self, path, *a, **kw):
        if "/data/optb" in path and not state["fired"]:
            state["fired"] = True
            layout.commit_deletes(spark, t, "value <= 1.0")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", hooked)
    with pytest.raises(RuntimeError, match="conflict"):
        layout.optimize_batches(spark, t, target_rows=ev.count() // 2)
    assert state["fired"]


def test_vacuum_respects_registered_clones(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, src, ev)
    layout.clone_table(src, dst)
    # source moves on: overwrite would orphan v0's files WITHOUT the
    # clone registry — the E447 documented hazard
    layout.commit_version(spark, src, ev.limit(10), mode="overwrite")
    assert layout.orphan_files(src, keep_versions=1) == []
    deleted = layout.vacuum(src, keep_versions=1, grace_seconds=0)
    assert deleted == []
    # the clone still reads its full snapshot
    assert layout.read_version(spark, dst).count() == ev.count()
    # deregistering (simulating clone deletion) frees the files
    import shutil

    shutil.rmtree(dst)
    orphans = layout.orphan_files(src, keep_versions=1)
    assert orphans  # now safe to reclaim


def test_read_as_of_timestamp(spark, sf_dir, tmp_path):
    import json
    import time

    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.limit(100))
    ts_between = time.time()
    layout.commit_version(spark, t, ev.limit(50), mode="append")
    man0 = _manifest(t, 0)
    man1 = _manifest(t, 1)
    assert man0["ts"] <= ts_between <= man1["ts"]
    assert layout.read_as_of_timestamp(spark, t, ts_between).count() == 100
    assert layout.read_as_of_timestamp(spark, t, time.time()).count() == 150
    with pytest.raises(ValueError, match="no version"):
        layout.read_as_of_timestamp(spark, t, man0["ts"] - 10.0)
