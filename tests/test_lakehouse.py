"""Lakehouse-maintenance tier (E315-E317): versioned snapshots, time
travel, orphan detection/vacuum, compaction planning — all manifest
arithmetic, never data rewrites. These are ✅T components (file-based;
no SQL oracle), so the tests carry the full correctness weight:
snapshot isolation, time-travel exactness, vacuum safety, batch
feasibility.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from parquet_to_csv_spark.sources import layout
from parquet_to_csv_spark.sources.tables import load_table


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def test_versioned_commits_and_time_travel(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    base = _orders(spark, sf_dir)
    v0 = layout.commit_version(spark, t, base.filter(F.col("o_orderkey") % 2 == 0))
    v1 = layout.commit_version(spark, t, base.filter(F.col("o_orderkey") % 2 == 1))
    assert (v0, v1) == (0, 1)
    n_even = base.filter(F.col("o_orderkey") % 2 == 0).count()
    n_all = base.count()
    # time travel: v0 sees only evens; latest sees the union
    assert layout.read_version(spark, t, 0).count() == n_even
    assert layout.read_version(spark, t).count() == n_all
    # snapshot isolation: an overwrite does not disturb old versions
    v2 = layout.commit_version(
        spark, t, base.limit(10), mode="overwrite"
    )
    assert layout.read_version(spark, t, v2).count() == 10
    assert layout.read_version(spark, t, 0).count() == n_even
    assert layout.read_version(spark, t, 1).count() == n_all


def test_orphans_and_vacuum_safety(spark, sf_dir, tmp_path):
    t = str(tmp_path / "tbl")
    base = _orders(spark, sf_dir)
    layout.commit_version(spark, t, base.limit(50))
    layout.commit_version(spark, t, base.limit(30), mode="overwrite")
    # v0's files are orphaned once only the latest version is retained
    orphans = layout.orphan_files(t, keep_versions=1)
    assert orphans and all("/data/v0/" in p for p in orphans)
    # retaining both versions → nothing is deletable
    assert layout.orphan_files(t, keep_versions=2) == []
    # vacuum removes exactly the orphans; the latest snapshot still reads
    deleted = layout.vacuum(t, keep_versions=1, grace_seconds=0)
    assert deleted == orphans
    assert all(not os.path.exists(p) for p in deleted)
    assert layout.read_version(spark, t).count() == 30
    # old manifest is gone with its files → time travel past retention fails
    import pytest

    with pytest.raises(FileNotFoundError):
        layout.read_version(spark, t, 0)


def test_compaction_plan_feasibility(spark, sf_dir, tmp_path):
    p = str(tmp_path / "frag")
    # fragment: 16 small files
    _orders(spark, sf_dir).repartition(16).write.parquet(p)
    manifest = layout.minmax_manifest(spark, p, "o_orderkey")
    total = _orders(spark, sf_dir).count()
    target = max(total // 3, 1)
    plan = layout.compaction_plan(manifest, target_rows=target, order_col="o_orderkey")
    rows = plan.collect()
    # every file assigned exactly once
    assert sum(r["n_files"] for r in rows) == 16
    assert sum(r["n_rows"] for r in rows) == total
    # greedy prefix binning: every batch except possibly the last crosses
    # the target only via its final file
    assert all(r["n_files"] >= 1 for r in rows)
    assert any(r["needs_compaction"] for r in rows)


def test_zorder_benefit_measured(spark, sf_dir, tmp_path):
    """E327: the Morton layout must open no more files than the
    natural layout for a 2-D box, and strictly fewer than at least one
    of the alternatives — the Z-order claim, measured, not asserted."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey")).alias("ok"),
        (F.col("l_partkey")).alias("pk"),
    )
    res = layout.zorder_benefit(
        spark, li, "ok", "pk", str(tmp_path / "zb"), n_files=16
    )
    z, xs, nat = res["zorder"], res["xsorted"], res["natural"]
    # the single-column sort is unbeatable on x and worthless on y
    assert xs["x_band"] <= z["x_band"]
    assert xs["y_band"] == res["n_files"]
    # Z-order wins the minimax over query shapes — the actual claim
    assert z["worst"] < xs["worst"]
    assert z["worst"] < nat["worst"]
    # and every shape must beat the unclustered layout
    for shape in ("x_band", "y_band", "box"):
        assert z[shape] <= nat[shape]


def test_schema_drift_between_versions(spark, sf_dir, tmp_path):
    """E329: drift report catches added / removed / retyped columns
    across E315 snapshots; additive evolution stays 'compatible'."""
    t = str(tmp_path / "tbl")
    base = _orders(spark, sf_dir)
    layout.commit_version(spark, t, base)
    layout.commit_version(
        spark, t, base.withColumn("discount_pct", F.lit(5)), mode="overwrite"
    )
    layout.commit_version(
        spark,
        t,
        base.drop("o_totalprice").withColumn(
            "o_custkey", F.col("o_custkey").cast("int")
        ),
        mode="overwrite",
    )
    d01 = layout.schema_drift(spark, t, 0, 1)
    assert d01 == {
        "added": ["discount_pct"], "removed": [], "type_changed": [],
        "compatible": True,
    }
    d02 = layout.schema_drift(spark, t, 0, 2)
    assert d02["removed"] == ["o_totalprice"]
    assert d02["type_changed"] == ["o_custkey"]
    assert d02["compatible"] is False


def test_commit_version_put_if_absent(spark, sf_dir, tmp_path, monkeypatch):
    """The manifest commit is put-if-absent — a racing writer that
    PERMANENTLY lands on an already-committed version number (here:
    latest_version pinned stale, so every bounded retry collides) must
    fail LOUDLY after exhausting retries, leaving the winner's
    manifest untouched and no .tmp litter — never silently replace it
    and orphan the winner's snapshot."""
    import json
    import os

    import pytest

    t = str(tmp_path / "tbl_race")
    base = _orders(spark, sf_dir)
    layout.commit_version(spark, t, base.limit(10))
    # the winner commits version 1 after the loser read latest=0
    winner = {"version": 1, "mode": "append", "files": ["sentinel.parquet"]}
    with open(os.path.join(t, "manifests", "v1.json"), "w") as f:
        json.dump(winner, f)
    monkeypatch.setattr(layout, "latest_version", lambda _d: 0)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        layout.commit_version(spark, t, base.limit(5))
    # the winner's manifest survived untouched and no .tmp remains
    kept = json.load(open(os.path.join(t, "manifests", "v1.json")))
    assert kept["files"] == ["sentinel.parquet"]
    assert not any(".tmp" in f for f in os.listdir(os.path.join(t, "manifests")))


def test_commit_version_retry_lands_both_writers(spark, sf_dir, tmp_path, monkeypatch):
    """Round-5: optimistic-concurrency retry — a loser whose
    latest_version read was stale ONCE must re-read, rebase its live
    set on the winner's manifest, and land at the next version: both
    snapshots durable, the final append containing BOTH writers' rows,
    zero orphaned data files."""
    import json
    import os

    t = str(tmp_path / "tbl_retry")
    base = _orders(spark, sf_dir)
    layout.commit_version(spark, t, base.limit(10))  # v0

    real = layout.latest_version
    stale_reads = {"n": 0}

    def flaky_latest(d):
        # first read inside the loser's commit returns the pre-winner
        # view; the winner's v1 appears only on the retry re-read
        stale_reads["n"] += 1
        if stale_reads["n"] == 1:
            winner = {**layout._load_manifest(t, 0), "version": 1}
            with open(os.path.join(t, "manifests", "v1.json"), "w") as f:
                json.dump(winner, f)
            return 0
        return real(d)

    monkeypatch.setattr(layout, "latest_version", flaky_latest)
    v = layout.commit_version(spark, t, base.limit(5))
    monkeypatch.setattr(layout, "latest_version", real)
    assert v == 2
    files_v2 = layout.json_manifest_files(t, 2)
    files_v1 = layout.json_manifest_files(t, 1)
    # rebased on the winner: v2 ⊃ v1 plus the loser's new files
    assert set(files_v1) < set(files_v2)
    assert layout.read_version(spark, t, 2).count() == 15
    assert layout.orphan_files(t, keep_versions=3) == []
    assert not any(".tmp" in f for f in os.listdir(os.path.join(t, "manifests")))
