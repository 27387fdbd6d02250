"""Round-7 ADVICE closures.

Five hardening fixes from the round-6 advisor, each pinned here:

1. ``snapshot_cdc_feed`` matches NEW delete vectors against files
   appended inside the window (net-change semantics) instead of
   silently dropping those delete events and mis-emitting the deleted
   rows as inserts.
2. ``artifact_root`` defaults to a per-user 0700 directory instead of
   a world-predictable shared path (cache-poisoning surface).
3. ``claim_artifact``'s fast path re-validates that the committed
   directory still exists (a /tmp reaper can remove stage-* while
   DONE.json survives) and repairs the manifest with a fresh build.
4. ``commit_deletes`` refuses to commit a delete vector whose base
   files were replaced by a concurrent overwrite.
5. ``scoped_session_conf`` serializes session-conf toggles and
   restores correctly under nesting (markov_attribution's bloom-filter
   scope).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from parquet_to_csv_spark.operators.timeops import scoped_session_conf
from parquet_to_csv_spark.sources import layout
from parquet_to_csv_spark.sources.layout import claim_artifact
from parquet_to_csv_spark.sources.tables import load_table


# --- 1. CDC feed: deletes binding to files appended inside the window


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )


def test_cdc_feed_sees_deletes_on_appended_files(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    base = ev.filter(F.col("event_type") == "click")
    appended = ev.filter(F.col("event_type") == "purchase")
    layout.commit_version(spark, t, base)                      # v0
    layout.commit_version(spark, t, appended, mode="append")   # v1
    # v2: the predicate hits rows from BOTH the v0 files and the files
    # appended at v1 — the advisor's untested path.
    layout.commit_deletes(spark, t, "value > 4.0")             # v2

    n_click = base.count()
    n_purch = appended.count()
    n_click_del = base.filter("value > 4.0").count()
    n_purch_del = appended.filter("value > 4.0").count()
    assert n_click_del > 0 and n_purch_del > 0, "fixture must hit both"

    feed = layout.snapshot_cdc_feed(spark, t, 0, 2)
    counts = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # net-change semantics: purchase rows appended-then-deleted inside
    # the window net out of the inserts and are NOT emitted as deletes;
    # deletes carry before-images only for rows live at v_from.
    assert counts.get("insert", 0) == n_purch - n_purch_del
    assert counts.get("delete", 0) == n_click_del
    # applying the feed to the v0 state reproduces the v2 state exactly
    v2_n = layout.read_version(spark, t, 2).count()
    assert n_click - n_click_del + counts.get("insert", 0) == v2_n


def test_cdc_feed_net_out_pure_append_delete(spark, sf_dir, tmp_path):
    """Window whose only delete entries bind to appended files."""
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.filter(F.col("event_type") == "view"))
    err = ev.filter(F.col("event_type") == "error")
    layout.commit_version(spark, t, err, mode="append")
    layout.commit_deletes(spark, t, "event_type = 'error' AND value <= 3.0")
    feed = layout.snapshot_cdc_feed(spark, t, 1, 2)
    counts = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # between v1 and v2 nothing was appended; the deleted rows were
    # live at v1 (in files added at v1, i.e. files_a of this window) —
    # they must surface as deletes with before-images.
    assert counts.get("insert", 0) == 0
    assert counts["delete"] == err.filter("value <= 3.0").count()


# --- 2. per-user artifact root


def test_artifact_root_defaults_per_user_0700(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    # no conf override active outside the art_root fixture
    assert spark.conf.get("spark.graft.artifactDir", None) is None
    root = layout.artifact_root(spark)
    assert root == f"/tmp/spark_graft_artifacts_{os.getuid()}"
    st = os.stat(root)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o777) == 0o700


def test_artifact_root_override_still_honored(spark, art_root):
    assert layout.artifact_root(spark) == art_root


# --- 3. claim_artifact survives a reaped committed dir


def test_claim_artifact_rebuilds_after_reap(spark, art_root):
    calls = []

    def build(stage):
        calls.append(stage)
        os.makedirs(stage)
        open(os.path.join(stage, "x.txt"), "w").write("payload")

    d1 = claim_artifact(spark, "kr", build)
    # simulate the /tmp reaper: the stage dir dies, DONE.json survives
    shutil.rmtree(d1)
    done = os.path.join(art_root, "kr", "DONE.json")
    assert os.path.exists(done)
    d2 = claim_artifact(spark, "kr", build)
    assert len(calls) == 2 and os.path.isdir(d2)
    assert open(os.path.join(d2, "x.txt")).read() == "payload"
    # the manifest was repaired: a THIRD claim serves without building
    assert json.load(open(done))["dir"] == d2
    d3 = claim_artifact(spark, "kr", build)
    assert d3 == d2 and len(calls) == 2


# --- 4. commit_deletes conflicts on concurrent overwrite


def test_commit_deletes_conflicts_with_concurrent_overwrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev.filter(F.col("event_type") == "click"))

    # land an overwrite between commit_deletes' entry snapshot and its
    # manifest-commit loop: hook the delete-vector parquet write, which
    # sits exactly in that window.
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state = {"fired": False}

    def hooked(self, path, *a, **kw):
        if "/deletes/" in path and not state["fired"]:
            state["fired"] = True
            layout.commit_version(
                spark, t, ev.filter(F.col("event_type") == "view"),
                mode="overwrite",
            )
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", hooked)
    with pytest.raises(RuntimeError, match="write conflict"):
        layout.commit_deletes(spark, t, "value > 4.0")
    assert state["fired"]
    # the table is undamaged: latest is the overwrite, no delete files
    man = json.load(
        open(os.path.join(t, "manifests", f"v{layout.latest_version(t)}.json"))
    )
    assert man["mode"] == "overwrite"
    assert not layout._man_delete_files(t, man)


def test_commit_deletes_still_fine_with_concurrent_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    layout.commit_version(spark, t, clicks)

    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state = {"fired": False}

    def hooked(self, path, *a, **kw):
        if "/deletes/" in path and not state["fired"]:
            state["fired"] = True
            layout.commit_version(
                spark, t, ev.filter(F.col("event_type") == "view"),
                mode="append",
            )
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", hooked)
    v = layout.commit_deletes(spark, t, "value > 4.0")
    # the append kept the vector's base files live: delete lands on top
    n_click = clicks.count()
    n_click_del = clicks.filter("value > 4.0").count()
    n_view = ev.filter(F.col("event_type") == "view").count()
    assert layout.read_version(spark, t, v).count() == (
        n_click - n_click_del + n_view
    )


# --- 5. scoped_session_conf nesting / restore


def test_scoped_session_conf_restores_on_nesting(spark):
    key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        with scoped_session_conf(spark, key, "false"):
            assert spark.conf.get(key) == "false"
            with scoped_session_conf(spark, key, "false"):
                assert spark.conf.get(key) == "false"
            # inner exit must NOT restore early
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "true"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_scoped_session_conf_unsets_when_previously_unset(spark):
    key = "spark.graft.test.scopedConfProbe"
    assert spark.conf.get(key, None) is None
    with scoped_session_conf(spark, key, "x"):
        assert spark.conf.get(key) == "x"
    assert spark.conf.get(key, None) is None


# --- streaming throughput tier (bench, round-7 verdict item 6)


def test_streaming_throughput_tier_shape(spark, sf_dir):
    from parquet_to_csv_spark.streaming.stream import streaming_throughput

    st = streaming_throughput(spark, sf_dir)
    assert st["rows"] > 0 and st["n_batches"] == 4
    for leg in ("stateless", "window_agg", "dedup"):
        assert st[f"{leg}_sec"] > 0
        assert st[f"{leg}_rows_per_sec"] > 0
    # dedup state is one row per distinct event_id — the max-cardinality
    # state shape this leg exists to track
    assert st["dedup_state_rows"] == st["rows"]
    assert 0 < st["window_agg_state_rows"] <= st["rows"]


# --- E463 RocksDB provider engagement / E461 restore / E464 constraints


def test_rocksdb_drain_actually_used_rocksdb(spark, sf_dir):
    import glob

    from parquet_to_csv_spark.streaming.stream import rocksdb_state_drain

    rows = {r["event_type"]: r["n_events"]
            for r in rocksdb_state_drain(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    truth = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert rows == truth
    ckpt = rocksdb_state_drain.last_checkpoint
    # RocksDB layout: zip snapshots + SSTs dir, not the HDFS .delta files
    zips = glob.glob(os.path.join(ckpt, "state", "0", "*", "*.zip"))
    assert zips, f"no RocksDB zip snapshots under {ckpt}"
    # the provider conf was restored after the scoped drain
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    ) is None


def test_restore_is_zero_copy_and_rejects_race(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.commit_version(spark, t, ev)
    layout.commit_deletes(spark, t, "event_type = 'error'")
    v = layout.restore_table(spark, t, 0)
    assert v == 2
    m0 = json.load(open(os.path.join(t, "manifests", "v0.json")))
    m2 = json.load(open(os.path.join(t, "manifests", "v2.json")))
    # zero-copy re-reference at BOTH metadata levels (round 8): the
    # restore's manifest list reuses v0's segment entries verbatim
    assert m2["segments"] == m0["segments"]
    assert layout._man_files(t, m2) == layout._man_files(t, m0)
    assert layout.read_version(spark, t, 2).count() == ev.count()
    assert layout.read_version(spark, t, 1).count() == ev.filter(
        "event_type <> 'error'"
    ).count()


def test_constraints_reject_violating_writes_everywhere(
    spark, sf_dir, tmp_path
):
    t = str(tmp_path / "tbl")
    ev = _events(spark, sf_dir)
    layout.set_table_constraints(t, {"no_errors": "event_type <> 'error'"})
    ok = ev.filter("event_type <> 'error'")
    layout.commit_version(spark, t, ok)  # clean write passes
    with pytest.raises(ValueError, match="no_errors"):
        layout.commit_version(spark, t, ev, mode="append")
    with pytest.raises(ValueError, match="no_errors"):
        layout.merge_into(
            spark, t,
            ev.filter("event_type = 'error'").limit(5),
            "event_id",
        )
    # table unchanged after the rejections
    assert layout.latest_version(t) == 0
    assert layout.read_version(spark, t).count() == ok.count()
