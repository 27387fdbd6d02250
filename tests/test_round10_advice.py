"""Round-10 ADVICE closures (see ADVICE.md, round 9 -> 10):

1. (medium) vacuum's version-retention manifest deletion honors the
   mtime grace window, and the one latest-manifest resolver treats a
   vanished just-resolved manifest as a lost race: every writer
   commits on top of the new latest, read_version re-resolves.
2. (low) _auto_compact_manifests swallows EVERY exception — the append
   already committed, so no fold failure may induce a duplicate retry.
3. (low) ConditionalPutCommitBackend.put_if_absent is atomic ACROSS
   processes (staged payload + os.link), not just across threads.
4. (low) vacuum reclaims stale ``.__claim__`` markers and the empty
   writer directories of failed/raced commits; markers guarding
   published files stay.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import parquet_to_csv_spark.sources.layout as L


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


# --- 1a: manifest deletion honors the grace window --------------------------


def test_vacuum_manifest_mtime_grace(spark, tmp_path):
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 5))  # v0
    L.commit_version(spark, t, _df(spark, 5, 8))  # v1 (append)
    v0 = os.path.join(t, "manifests", "v0.json")
    # default grace: the just-written v0.json is in-flight metadata
    L.vacuum(t, keep_versions=1)
    assert os.path.exists(v0)
    # grace 0 (no live writers, the test contract): reclaimed
    L.vacuum(t, keep_versions=1, grace_seconds=0)
    assert not os.path.exists(v0)


# --- 1b: commit_version treats a vacuumed append base as a lost race --------


def _merge_rows(spark, t, df):
    return L.merge_into(spark, t, df, "k")


def _replace_rows(spark, t, df):
    return L.replace_where(spark, t, "k >= 100", df)


@pytest.mark.parametrize(
    "writer", [L.commit_version, _merge_rows, _replace_rows],
    ids=["commit_version", "merge_into", "replace_where"],
)
def test_commit_append_survives_vacuumed_base(spark, tmp_path, monkeypatch, writer):
    """The exact ADVICE interleaving: a writer resolves latest -> 0,
    a racer's commit + vacuum(keep_versions=1, grace=0) delete v0.json,
    and the writer's _load_manifest(0) hits FileNotFoundError. That must
    be a retry (re-resolve latest, append on top), not a crash — for
    every writer that builds on the latest snapshot."""
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 5))  # v0
    L.commit_version(spark, t, _df(spark, 5, 8))  # v1 appends (carries v0)
    L.vacuum(t, keep_versions=1, grace_seconds=0)  # v0.json reclaimed
    assert not os.path.exists(os.path.join(t, "manifests", "v0.json"))

    real = L.latest_version
    calls = {"n": 0}

    def stale_then_real(table_dir):
        calls["n"] += 1
        # the first two resolutions see the STALE latest whose
        # manifest a concurrent vacuum already deleted
        return 0 if calls["n"] <= 2 else real(table_dir)

    monkeypatch.setattr(L, "latest_version", stale_then_real)
    v = writer(spark, t, _df(spark, 100, 103))
    monkeypatch.undo()
    assert v == 2  # committed on top of the REAL latest (v1)
    got = sorted(r["k"] for r in L.read_version(spark, t).collect())
    assert got == list(range(8)) + [100, 101, 102]


def test_commit_pinned_base_vacuumed_is_an_error(spark, tmp_path):
    """An EXPLICIT base_version whose manifest retention reclaimed is a
    genuine error — retrying on a different base would silently change
    the transaction's semantics."""
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 5))  # v0
    L.commit_version(spark, t, _df(spark, 5, 8))  # v1
    L.vacuum(t, keep_versions=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError):
        L.commit_version(spark, t, _df(spark, 9, 10), base_version=0)


# --- 1c: read_version re-resolves a vacuumed just-resolved latest -----------


def test_read_version_reresolves_after_vacuum_race(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 5))  # v0
    L.commit_version(spark, t, _df(spark, 5, 8))  # v1
    L.vacuum(t, keep_versions=1, grace_seconds=0)  # v0.json gone

    real = L.latest_version
    calls = {"n": 0}

    def stale_then_real(table_dir):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real(table_dir)

    monkeypatch.setattr(L, "latest_version", stale_then_real)
    got = sorted(r["k"] for r in L.read_version(spark, t).collect())
    monkeypatch.undo()
    assert got == list(range(8))  # served the re-resolved latest


def test_read_version_explicit_vacuumed_still_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 5))
    L.commit_version(spark, t, _df(spark, 5, 8))
    L.vacuum(t, keep_versions=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError):
        L.read_version(spark, t, 0)  # explicit out-of-retention request


# --- 2: auto-compaction never fails a committed append ----------------------


def test_auto_compact_swallows_any_exception(spark, tmp_path, monkeypatch):
    """OSError/JSONDecodeError from the fold (e.g. a segment reclaimed
    mid-fold by a grace-0 vacuum) must not escape commit_version — the
    append already committed; propagating would induce an application
    retry of a SUCCESSFUL commit (duplicates)."""
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 3))

    def boom(*a, **kw):
        raise OSError("segment reclaimed mid-fold")

    monkeypatch.setattr(L, "rewrite_segments", boom)
    spark.conf.set("spark.graft.manifest.maxEntries", "1")
    try:
        v = L.commit_version(spark, t, _df(spark, 3, 6))
    finally:
        spark.conf.unset("spark.graft.manifest.maxEntries")
        monkeypatch.undo()
    assert v == 1
    got = sorted(r["k"] for r in L.read_version(spark, t).collect())
    assert got == list(range(6))


# --- 3: conditional-put backend is atomic across PROCESSES ------------------


def test_conditional_put_cross_process_exactly_one_winner(tmp_path):
    """Two real interpreters race put_if_absent on 40 shared paths with
    a pairwise barrier per path. Exactly one winner per path, and the
    committed object is byte-exactly the winner's payload — the
    in-process lock guarantees neither; the os.link check-and-create
    must."""
    arena = str(tmp_path / "arena")
    os.makedirs(arena)
    script = os.path.join(os.path.dirname(__file__), "helpers", "cput_race_worker.py")
    n = 40
    procs = [
        subprocess.Popen(
            [sys.executable, script, arena, str(w), str(n)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in range(2)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err[-2000:]
        outs.append(json.loads(out.strip().splitlines()[-1]))
    wins = {o["w"]: set(o["wins"]) for o in outs}
    assert wins[0] | wins[1] == set(range(n))  # every round has a winner
    assert wins[0] & wins[1] == set()  # ... exactly one
    for i in range(n):
        obj = json.load(open(os.path.join(arena, f"target-{i}.json")))
        winner = 0 if i in wins[0] else 1
        assert obj == {"winner": winner, "round": i}  # no clobber, no tear
    # no staging debris leaked into the arena
    assert glob.glob(os.path.join(arena, "*.staged-*")) == []


# --- 4: vacuum reclaims stale claim markers ----------------------------------


def test_vacuum_reclaims_stale_claim_markers(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with L.commit_backend(L.ConditionalPutCommitBackend()):
        L.commit_version(spark, t, _df(spark, 0, 5))  # v0 + its marker
        # a raced/crashed writer: claimed two dirs, never published
        L._claim_data_dir(t, "v1")
        L._claim_data_dir(t, "v1")  # loser takes a suffixed alt
        markers = glob.glob(os.path.join(t, "data", "*.__claim__"))
        assert len(markers) == 3  # v0 + v1 + v1.<suffix>
        # grace protects everything young — nothing reclaimed
        L.vacuum(t, keep_versions=1)
        assert len(glob.glob(os.path.join(t, "data", "*.__claim__"))) == 3
        # past grace: the two file-less claims (dir + marker) go; the
        # marker guarding v0's PUBLISHED files stays
        L.vacuum(t, keep_versions=1, grace_seconds=0)
        left = sorted(glob.glob(os.path.join(t, "data", "*.__claim__")))
        assert left == [os.path.join(t, "data", "v0.__claim__")]
        assert not any(
            os.path.basename(d).startswith("v1")
            for d in glob.glob(os.path.join(t, "data", "v*"))
        )
        # the reclaimed bare name is claimable again: a fresh commit
        # lands under data/v1 without a suffix and reads back whole
        L.commit_version(spark, t, _df(spark, 5, 8))
        got = sorted(r["k"] for r in L.read_version(spark, t).collect())
        assert got == list(range(8))
        assert os.path.isdir(os.path.join(t, "data", "v1"))


def test_vacuum_keeps_markers_of_live_dirs_forever(spark, tmp_path):
    """A marker whose directory holds published parquet is the ONLY
    thing stopping a future writer from re-claiming the bare name and
    clobbering committed files with mode('overwrite') — it must survive
    any vacuum."""
    t = str(tmp_path / "tbl")
    with L.commit_backend(L.ConditionalPutCommitBackend()):
        L.commit_version(spark, t, _df(spark, 0, 5))
        L.commit_version(spark, t, _df(spark, 5, 9))
        L.vacuum(t, keep_versions=5, grace_seconds=0)
        left = sorted(
            os.path.basename(m)
            for m in glob.glob(os.path.join(t, "data", "*.__claim__"))
        )
        assert left == ["v0.__claim__", "v1.__claim__"]


# --- 1d: the full interleaving under TRUE concurrency ------------------------


def test_vacuum_concurrent_with_writers_and_readers(spark, tmp_path):
    """The round-9 ADVICE race, end to end under real threads: two
    appenders, two READERS, and a keep_versions=1 vacuum loop under a
    TINY grace window (0.35 s — far below the commit cadence, so the
    retention cutoff actively chases latest and reclaims
    out-of-retention manifests WHILE clients hold stale resolutions;
    grace 0 with live writers is outside vacuum's documented contract,
    since an in-flight commit's just-written segment is unreferenced
    until its manifest links). The lost-race retries in
    commit_version/read_version must absorb every vanished manifest:
    zero exceptions anywhere, every committed row readable at the end.
    (Pre-round-10 this interleaving threw FileNotFoundError from
    either client.)"""
    import threading

    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 1))
    errors = []
    stop = threading.Event()

    def writer(w):
        try:
            for j in range(4):
                lo = 1000 * (w + 1) + 10 * j
                L.commit_version(
                    spark, t, _df(spark, lo, lo + 5), max_attempts=40
                )
        except Exception as e:  # noqa: BLE001
            errors.append(("writer", e))

    def reader():
        try:
            while not stop.is_set():
                n = L.read_version(spark, t).count()
                assert n >= 1
        except Exception as e:  # noqa: BLE001
            errors.append(("reader", e))

    def vacuumer():
        while not stop.is_set():
            try:
                L.vacuum(t, keep_versions=1, grace_seconds=0.35)
            except Exception as e:  # noqa: BLE001
                errors.append(("vacuum", e))

    writers = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    readers = [threading.Thread(target=reader) for _ in range(2)]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for th in readers:
        th.start()
    for th in writers:
        th.start()
    for th in writers:
        th.join()
    stop.set()
    for th in readers:
        th.join()
    vt.join()
    assert not errors, errors
    got = sorted(r["k"] for r in L.read_version(spark, t).collect())
    want = [0] + sorted(
        k
        for w in range(2)
        for j in range(4)
        for k in range(1000 * (w + 1) + 10 * j, 1000 * (w + 1) + 10 * j + 5)
    )
    assert got == want
