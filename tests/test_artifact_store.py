"""Shared build-once artifact store (round-6, verdict item 5).

``layout.claim_artifact`` replaces the per-process mkdtemp roots that
backed the near-dup edge tables and IVF index dirs: the artifact root
is shared across processes, the commit point is a put-if-absent
``os.link`` of a DONE manifest, and a builder crash mid-write leaves
only an unreferenced stage directory. These tests pin the protocol —
build-once, race (both claimants converge on one committed dir),
crash-safety — and the verdict's "two processes share one edge build"
end to end through ``dedup.dedup_edges``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from parquet_to_csv_spark.sources.layout import claim_artifact

SF_DIR = "/root/testdata/sf0.001"


def test_build_once_then_serve(spark, art_root):
    calls = []

    def build(stage):
        calls.append(stage)
        os.makedirs(stage)
        open(os.path.join(stage, "x.txt"), "w").write("payload")

    d1 = claim_artifact(spark, "k1", build)
    d2 = claim_artifact(spark, "k1", build)
    assert d1 == d2
    assert len(calls) == 1
    assert open(os.path.join(d1, "x.txt")).read() == "payload"


def test_concurrent_claims_converge_on_one_commit(spark, art_root):
    gate = threading.Barrier(2)
    results, calls = [], []

    def build(stage):
        calls.append(stage)
        gate.wait(timeout=30)  # both builders in flight simultaneously
        os.makedirs(stage)
        open(os.path.join(stage, "x.txt"), "w").write(stage)

    def claim():
        results.append(claim_artifact(spark, "k2", build))

    ts = [threading.Thread(target=claim) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert len(results) == 2 and len(set(results)) == 1
    # the loser's stage was deleted; only the winner's dir remains
    committed = results[0]
    assert open(os.path.join(committed, "x.txt")).read() == committed
    adir = os.path.dirname(committed)
    stages = [d for d in os.listdir(adir) if d.startswith("stage-")]
    assert stages == [os.path.basename(committed)]
    assert json.load(open(os.path.join(adir, "DONE.json")))["dir"] == committed


def test_crash_mid_build_never_serves_torn_artifact(spark, art_root):
    def bad_build(stage):
        os.makedirs(stage)
        open(os.path.join(stage, "partial.txt"), "w").write("half")
        raise RuntimeError("simulated writer crash")

    with pytest.raises(RuntimeError):
        claim_artifact(spark, "k3", bad_build)
    # no DONE manifest → nothing committed
    assert not os.path.exists(os.path.join(art_root, "k3", "DONE.json"))

    def good_build(stage):
        os.makedirs(stage)
        open(os.path.join(stage, "x.txt"), "w").write("whole")

    d = claim_artifact(spark, "k3", good_build)
    assert open(os.path.join(d, "x.txt")).read() == "whole"


def test_two_processes_share_one_edge_build(spark, art_root):
    """Verdict item 5 'done' criterion: a SECOND process claiming the
    same content key serves the first process's committed edge build
    instead of repeating the prefix-filter join."""
    from parquet_to_csv_spark.operators import dedup

    script = f"""
import sys; sys.path.insert(0, "/root/repo")
import os
os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = {art_root!r}
from parquet_to_csv_spark.session import get_spark
from parquet_to_csv_spark.operators.dedup import dedup_edges
spark = get_spark("proc1", shuffle_partitions=4)
n = dedup_edges(spark, {SF_DIR!r}, 0.8).count()
print("EDGE_COUNT", n)
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    n_proc1 = int(out.stdout.split("EDGE_COUNT")[1].split()[0])

    # the subprocess committed the artifact under art_root
    edge_keys = [d for d in os.listdir(art_root) if d.startswith("edges_")]
    assert len(edge_keys) == 1
    adir = os.path.join(art_root, edge_keys[0])
    committed = json.load(open(os.path.join(adir, "DONE.json")))["dir"]
    stages_before = sorted(os.listdir(adir))

    # this process must SERVE that build: same count, no new stage dir
    n_here = dedup.dedup_edges(spark, SF_DIR, 0.8).count()
    assert n_here == n_proc1
    assert sorted(os.listdir(adir)) == stages_before
    assert json.load(open(os.path.join(adir, "DONE.json")))["dir"] == committed
