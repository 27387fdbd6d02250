"""Round-9 lakehouse hardening: bounded-LRU segment cache (verdict
item 4 + ADVICE cache-safety), vacuum grace period, pluggable
atomic-commit backend, auto manifest compaction, multi-process commit
stress, executor-retry idempotence."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

import parquet_to_csv_spark.sources.layout as L


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


# --- bounded LRU caches (verdict item 4) -----------------------------------


def test_segment_cache_lru_no_full_flush():
    """Insert #8193 must evict exactly the oldest entry, not clear-all
    (the pre-round-9 behavior re-read every cached segment at once)."""
    with L._CACHE_LOCK:
        saved = dict(L._SEGMENT_CACHE)
        L._SEGMENT_CACHE.clear()
    try:
        for i in range(L._SEGMENT_CACHE_MAX + 1):
            L._seg_cache_put(f"/fake/seg-{i}.json", {"files": []})
        assert len(L._SEGMENT_CACHE) == L._SEGMENT_CACHE_MAX
        assert "/fake/seg-0.json" not in L._SEGMENT_CACHE  # oldest out
        # survivors prove it was LRU eviction, not a flush
        assert "/fake/seg-1.json" in L._SEGMENT_CACHE
        assert f"/fake/seg-{L._SEGMENT_CACHE_MAX}.json" in L._SEGMENT_CACHE
    finally:
        with L._CACHE_LOCK:
            L._SEGMENT_CACHE.clear()
            L._SEGMENT_CACHE.update(saved)


def test_segment_cache_get_refreshes_recency(tmp_path, monkeypatch):
    """_seg_load touches move an entry to MRU: with capacity 3, loading
    A,B,C then re-reading A then loading D must evict B, not A."""
    monkeypatch.setattr(L, "_SEGMENT_CACHE_MAX", 3)
    with L._CACHE_LOCK:
        saved = dict(L._SEGMENT_CACHE)
        L._SEGMENT_CACHE.clear()
    try:
        paths = []
        for name in "abcd":
            p = str(tmp_path / f"s-{name}.json")
            json.dump({"files": [name]}, open(p, "w"))
            paths.append(p)
        a, b, c, d = paths
        for p in (a, b, c):
            L._seg_load({"path": p})
        L._seg_load({"path": a})  # refresh A
        L._seg_load({"path": d})  # evicts LRU == B
        assert a in L._SEGMENT_CACHE and d in L._SEGMENT_CACHE
        assert b not in L._SEGMENT_CACHE
        assert c in L._SEGMENT_CACHE
    finally:
        with L._CACHE_LOCK:
            L._SEGMENT_CACHE.clear()
            L._SEGMENT_CACHE.update(saved)


def test_vacuum_evicts_reclaimed_segments_from_cache(spark, tmp_path):
    """Vacuumed segment paths must leave the process-global cache (a
    stale positive entry would serve a deleted segment's content)."""
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 50))
    L.commit_version(spark, t, _df(spark, 50, 90), mode="overwrite")
    pre = set(glob.glob(os.path.join(t, "segments", "s-*.json")))
    assert pre <= set(L._SEGMENT_CACHE)  # both segments were cached
    L.vacuum(t, keep_versions=1, grace_seconds=0)
    survivors = set(glob.glob(os.path.join(t, "segments", "s-*.json")))
    reclaimed = pre - survivors
    assert reclaimed
    assert not reclaimed & set(L._SEGMENT_CACHE)
    assert survivors <= set(L._SEGMENT_CACHE)


def test_vacuum_grace_period_spares_fresh_artifacts(spark, tmp_path):
    """ADVICE (round 9): with the default grace window, vacuum must NOT
    reclaim freshly written unreferenced data files / segments — they
    may belong to an in-flight commit that hasn't linked its manifest
    yet. grace_seconds=0 restores immediate reclaim."""
    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 50))
    L.commit_version(spark, t, _df(spark, 50, 90), mode="overwrite")
    orphans = L.orphan_files(t, keep_versions=1)
    assert orphans  # v0's files are unreferenced at keep_versions=1
    segs_pre = set(glob.glob(os.path.join(t, "segments", "s-*.json")))
    # default grace: everything here is seconds old -> nothing reclaimed
    assert L.vacuum(t, keep_versions=1) == []
    assert set(glob.glob(os.path.join(t, "segments", "s-*.json"))) == segs_pre
    assert all(os.path.exists(p) for p in orphans)
    # aged-out artifacts (mtime pushed past the window) are reclaimed.
    # Round 10: out-of-retention MANIFESTS are grace-protected too, and
    # a surviving manifest keeps its segment referenced — so the aging
    # must cover v0.json as well for its segment to become reclaimable.
    past = L._time.time() - 3600
    for p in orphans:
        os.utime(p, (past, past))
    for p in segs_pre:
        os.utime(p, (past, past))
    os.utime(os.path.join(t, "manifests", "v0.json"), (past, past))
    deleted = L.vacuum(t, keep_versions=1)
    assert sorted(deleted) == sorted(orphans)
    assert len(glob.glob(os.path.join(t, "segments", "s-*.json"))) == 1


# --- pluggable atomic-commit backend (verdict item 1) -----------------------


def test_conditional_put_backend_primitives(tmp_path):
    """The object-store double: put_if_absent is first-writer-wins with
    whole-object visibility; claim_dir claims via a marker OBJECT (no
    directories in an object store)."""
    be = L.ConditionalPutCommitBackend()
    p = str(tmp_path / "obj.json")
    assert be.put_if_absent(p, '{"w": 1}')
    assert not be.put_if_absent(p, '{"w": 2}')
    assert json.load(open(p)) == {"w": 1}  # loser never tore the object
    assert (be.puts, be.wins, be.losses) == (2, 1, 1)
    d = str(tmp_path / "data" / "v0")
    os.makedirs(str(tmp_path / "data"), exist_ok=True)
    assert be.claim_dir(d)
    assert os.path.exists(d + ".__claim__")  # marker object, not mkdir
    assert not be.claim_dir(d)  # second claimant loses via the marker


def test_commit_backend_swap_restores():
    be = L.ConditionalPutCommitBackend()
    prev = L.get_commit_backend()
    with L.commit_backend(be) as active:
        assert L.get_commit_backend() is be is active
    assert L.get_commit_backend() is prev


def test_commit_storm_through_conditional_put(spark, tmp_path):
    """Verdict item 1 'done' gate: the round-8 commit-storm stress
    tests replayed with the object-store double installed — the whole
    claim→write→publish protocol must hold under conditional-PUT
    semantics (no os.link, no atomic mkdir anywhere)."""
    import tests.test_round8_lakehouse as r8

    prev = L.get_commit_backend()
    with L.commit_backend(L.ConditionalPutCommitBackend()) as be:
        for sub, scenario in (
            ("a", r8.test_concurrent_commits_all_land),
            ("b", r8.test_concurrent_ref_commits_all_land),
            ("c", r8.test_concurrent_merges_all_land),
        ):
            d = tmp_path / sub
            d.mkdir()
            scenario(spark, d)
        assert be.wins > 0
    assert L.get_commit_backend() is prev  # context restored the backend


def test_ref_cas_through_conditional_put(spark, tmp_path, monkeypatch):
    """Round-8 ref-CAS races replayed through the double."""
    import tests.test_round8_lakehouse as r8

    with L.commit_backend(L.ConditionalPutCommitBackend()):
        for sub, scenario in (
            ("a", r8.test_ref_commit_race_rebase_keeps_both),
            ("b", r8.test_ref_fast_forward_race_revalidates),
        ):
            d = tmp_path / sub
            d.mkdir()
            scenario(spark, d, monkeypatch)


def _merge_rows(spark, t, df):
    return L.merge_into(spark, t, df, "k", max_attempts=5)


def _replace_rows(spark, t, df):
    return L.replace_where(spark, t, "k >= 200", df, max_attempts=5)


@pytest.mark.parametrize(
    "writer", [L.commit_version, _merge_rows, _replace_rows],
    ids=["commit_version", "merge_into", "replace_where"],
)
def test_lost_race_injection_at_commit_point(spark, tmp_path, writer):
    """The interpose hook simulates losing the conditional PUT to a
    concurrent writer at EXACTLY the commit point: a racer's v1 lands
    between our claim and our publish, our put must lose, and the
    retry must rebase so both writers' rows land. A delete-vector
    writer's losing attempt must leave no vector behind."""
    t = str(tmp_path / "tbl")
    with L.commit_backend(L.ConditionalPutCommitBackend()) as be:
        L.commit_version(spark, t, _df(spark, 0, 5))  # v0
        racer_df = _df(spark, 100, 105)
        state = {"fired": False}

        def interpose(path, payload):
            if path.endswith("v1.json") and not state["fired"]:
                state["fired"] = True  # guard before recursing
                L.commit_version(spark, t, racer_df, max_attempts=5)

        be.interpose = interpose
        v = writer(spark, t, _df(spark, 200, 205))
        be.interpose = None
        assert state["fired"]
        assert v == 2  # lost v1 to the injected racer, rebased to v2
        assert be.losses >= 1
        got = sorted(r["k"] for r in L.read_version(spark, t).collect())
        assert got == list(range(0, 5)) + list(range(100, 105)) + list(
            range(200, 205)
        )
        # every delete vector on disk is one the latest manifest uses:
        # the loser's stale vector was removed
        man = L._load_manifest(t, v)
        used = {os.path.dirname(f) for f in L._man_delete_files(t, man)}
        on_disk = set(glob.glob(os.path.join(t, "deletes", "*")))
        assert on_disk <= used


def test_lakehouse_lifecycle_through_conditional_put(spark, tmp_path):
    """End-to-end lifecycle (append, delete vectors, merge, time
    travel, optimize, rewrite_segments, restore, vacuum) with the
    object-store double installed — zero protocol step may assume
    link/mkdir atomicity."""
    t = str(tmp_path / "tbl")
    with L.commit_backend(L.ConditionalPutCommitBackend()):
        L.commit_version(spark, t, _df(spark, 0, 50))
        L.commit_version(spark, t, _df(spark, 50, 80))
        L.commit_deletes(spark, t, "k >= 70")
        assert L.read_version(spark, t).count() == 70
        assert L.read_version(spark, t, 1).count() == 80  # time travel
        changes = spark.range(0, 10).select(
            F.col("id").alias("k")
        )  # upsert same keys (no-op values, exercises merge commit)
        L.merge_into(spark, t, changes, "k")
        assert L.read_version(spark, t).count() == 70
        L.optimize_table(spark, t)
        assert L.read_version(spark, t).count() == 70
        for lo in range(5):
            L.commit_version(
                spark, t, _df(spark, 1000 + lo * 10, 1000 + lo * 10 + 5)
            )
        v = L.rewrite_segments(t, max_entries=2)
        assert L.read_version(spark, t, v).count() == 95
        L.vacuum(t, keep_versions=1, grace_seconds=0)
        assert L.read_version(spark, t).count() == 95


# --- auto metadata compaction policy (verdict item 2) -----------------------


def test_auto_compaction_bounds_manifest_list_over_300_appends(spark, tmp_path):
    """300 appends with spark.graft.manifest.maxEntries=16: the commit-
    time policy must keep the manifest list bounded (<= threshold + the
    in-flight tail) with NO manual rewrite_segments call, and every
    append's own snapshot must still reference exactly the files that
    were live at that commit (rewrites are metadata-only)."""
    t = str(tmp_path / "tbl")
    spark.conf.set("spark.graft.manifest.maxEntries", "16")
    try:
        expected: dict[int, set] = {}
        live: set = set()
        max_seen = 0
        for i in range(300):
            v = L.commit_version(
                spark, t, _df(spark, 10 * i, 10 * i + 2).coalesce(1)
            )
            man = L._load_manifest(t, v)
            files = set(L._man_files(t, man))
            new = files - live
            assert len(new) >= 1  # this commit's own file(s)
            live = files
            expected[v] = files
            max_seen = max(
                max_seen, len(L._man_data_segments(t, man))
            )
        latest = L._load_manifest(t, L.latest_version(t))
        n_entries = len(L._man_data_segments(t, latest))
        # bounded: the fold fires when the list EXCEEDS 16, so the
        # steady state oscillates in (1, 17]; without the policy this
        # would be 300
        assert n_entries <= 17, n_entries
        assert max_seen <= 17, max_seen
        # metadata-only: every append's own version still resolves the
        # exact file set that was live when it committed
        for v, files in expected.items():
            assert set(L._man_files(t, L._load_manifest(t, v))) == files
        # and the final table has every row exactly once
        rows = [r["k"] for r in L.read_version(spark, t).collect()]
        assert sorted(rows) == sorted(
            k for i in range(300) for k in (10 * i, 10 * i + 1)
        )
        assert len(rows) == len(set(rows)) == 600
    finally:
        spark.conf.unset("spark.graft.manifest.maxEntries")


def test_auto_compaction_policy_disable_and_default(spark, tmp_path):
    """maxEntries<=0 disables the policy (list grows per commit, the
    pre-round-9 behavior); the 100-entry default leaves short histories
    untouched."""
    t = str(tmp_path / "off")
    spark.conf.set("spark.graft.manifest.maxEntries", "0")
    try:
        for i in range(20):
            L.commit_version(spark, t, _df(spark, i, i + 1).coalesce(1))
        man = L._load_manifest(t, L.latest_version(t))
        assert len(L._man_data_segments(t, man)) == 20
    finally:
        spark.conf.unset("spark.graft.manifest.maxEntries")
    t2 = str(tmp_path / "default")
    for i in range(5):
        L.commit_version(spark, t2, _df(spark, i, i + 1).coalesce(1))
    man2 = L._load_manifest(t2, L.latest_version(t2))
    assert len(L._man_data_segments(t2, man2)) == 5  # under the 100 default


# --- multi-process commit stress (verdict item 6) ---------------------------


def test_multiprocess_commit_stress(spark, tmp_path):
    """3 SEPARATE Python processes (own JVMs, own _SEGMENT_CACHE/memo
    state) doing mixed ref-publish / append / MERGE on ONE table: all
    rows must land exactly once, every process's final read must agree,
    and nothing on disk may be unreferenced when keeping all versions
    (no orphan data from cross-process races)."""
    import subprocess
    import sys

    t = str(tmp_path / "tbl")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    seed = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    L.commit_version(spark, t, seed)
    L.create_ref(t, "main")

    script = os.path.join(os.path.dirname(__file__), "helpers", "mp_commit_worker.py")
    procs = [
        subprocess.Popen(
            [sys.executable, script, t, str(w), sync],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in range(3)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-3000:]
        outs.append(json.loads(out.strip().splitlines()[-1]))

    # every process's final read agrees
    assert outs[0]["latest"] == outs[1]["latest"] == outs[2]["latest"]
    assert outs[0]["ref"] == outs[1]["ref"] == outs[2]["ref"]
    assert (
        outs[0]["latest_version"]
        == outs[1]["latest_version"]
        == outs[2]["latest_version"]
    )

    # ...and matches the deterministic expectation: the ref head holds
    # seed + all 3 ref publishes; the mainline (committed on top of the
    # final ref head) additionally holds every append, with each
    # worker's MERGE slice updated exactly once
    ref_want = sorted(
        [(k, 0) for k in range(30)]
        + [(500 * (w + 1) + i, -1) for w in range(3) for i in range(3)]
    )
    assert outs[0]["ref"] == [list(x) for x in ref_want]
    latest_want = sorted(
        [(k, k // 10 + 1) for k in range(30)]  # merged seed slices
        + [(500 * (w + 1) + i, -1) for w in range(3) for i in range(3)]
        + [(10_000 * (w + 1) + i, -2) for w in range(3) for i in range(5)]
        + [(10_000 * (w + 1) + 10 + i, -2) for w in range(3) for i in range(5)]
    )
    assert outs[0]["latest"] == [list(x) for x in latest_want]

    # exactly-once: no duplicate keys anywhere
    keys = [k for k, _ in outs[0]["latest"]]
    assert len(keys) == len(set(keys))

    # orphan accounting across all processes' races: keeping EVERY
    # version, nothing on disk is unreferenced
    n_versions = L.latest_version(t) + 1
    assert L.orphan_files(t, keep_versions=n_versions) == []


# --- executor-retry idempotence probe (verdict item 7) ----------------------


def test_commit_survives_task_retry(tmp_path):
    """spark.task.maxFailures=3 (local[4,3]) with one injected
    first-attempt task failure inside commit_version's data write: the
    committed manifest must reference exactly the files that survived
    task commit (failed attempt's partial output invisible), row counts
    must be exact, and the embedded footer stats must agree."""
    import subprocess
    import sys

    t = str(tmp_path / "tbl")
    marker = str(tmp_path / "injection.fired")
    script = os.path.join(
        os.path.dirname(__file__), "helpers", "retry_probe_worker.py"
    )
    p = subprocess.run(
        [sys.executable, script, t, marker],
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["injection_fired"]  # the probe actually failed a task
    assert out["version"] == 0
    assert out["rows"] == 1000
    assert out["ksum"] == 999 * 1000 // 2
    assert out["seg_rows"] == 1000  # footer stats see no duplicate rows
    assert out["referenced_equals_disk"]  # no partial-attempt survivors
    assert out["leftovers"] == []


def test_vacuum_concurrent_with_writers_under_grace(spark, tmp_path):
    """The ADVICE hazard under real concurrency: vacuum(keep_versions=1)
    runs repeatedly WHILE two threads append — with the default grace
    window no in-flight commit's freshly written data files or segment
    manifests may be reclaimed, so every commit must succeed and every
    row must land. (With grace 0 this interleaving could reclaim a
    claimed-but-unpublished commit's files — the documented pre-round-9
    hazard.)"""
    import threading

    t = str(tmp_path / "tbl")
    L.commit_version(spark, t, _df(spark, 0, 1))
    errors = []
    stop = threading.Event()

    def writer(w):
        try:
            for j in range(5):
                lo = 1000 * (w + 1) + 10 * j
                L.commit_version(
                    spark, t, _df(spark, lo, lo + 5), max_attempts=20
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer():
        while not stop.is_set():
            try:
                L.vacuum(t, keep_versions=1)  # default grace window
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    stop.set()
    vt.join()
    assert not errors, errors
    got = sorted(r["k"] for r in L.read_version(spark, t).collect())
    want = [0] + sorted(
        k
        for w in range(2)
        for j in range(5)
        for k in range(1000 * (w + 1) + 10 * j, 1000 * (w + 1) + 10 * j + 5)
    )
    assert got == want


def test_backends_agree_exactly_one_winner(tmp_path):
    """Backend contract, both implementations: N threads racing
    put_if_absent on one path produce EXACTLY one winner, and the
    committed object is byte-exactly the winner's payload (no tear, no
    last-writer-wins clobber)."""
    import threading

    for i, be in enumerate(
        (L.PosixCommitBackend(), L.ConditionalPutCommitBackend())
    ):
        p = str(tmp_path / f"obj{i}.json")
        results = [None] * 16

        def racer(j, path=p, backend=be, out=results):
            out[j] = backend.put_if_absent(path, json.dumps({"writer": j}))

        threads = [
            threading.Thread(target=racer, args=(j,)) for j in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sum(1 for r in results if r) == 1, (be.name, results)
        winner = results.index(True)
        assert json.load(open(p)) == {"writer": winner}, be.name
