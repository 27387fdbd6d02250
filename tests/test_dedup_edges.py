"""Materialized near-dup edge table (round-3): build-once semantics.

The graph/report family (clusters, taint, novelty, pagerank, k-core,
review queue, …) shares one verified Jaccard pair relation. At 100 TB
rebuilding it per query is the dominant cost; ``dedup_edges``
materializes it to parquet on first use and serves every later
consumer as a scan. These tests pin (a) result identity with the
direct build, (b) exactly one build per (sf_dir, threshold), and
(c) superset reuse: a lower-threshold build serves higher thresholds
without a second prefix-filter join.
"""

from __future__ import annotations

import os

from parquet_to_csv_spark.operators import dedup


def _rows(df):
    return sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
    )


def test_dedup_edges_identical_to_direct_build(spark, sf_dir):
    direct = _rows(dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8))
    served = _rows(dedup.dedup_edges(spark, sf_dir, 0.8))
    assert served == direct and len(served) > 0


def test_dedup_edges_builds_once_and_superset_serves(spark, sf_dir, committed_dir):
    # every threshold at or above the workload floor is served from the
    # one build committed at the floor for this corpus salt
    from parquet_to_csv_spark.sources.tables import source_salt

    salt = source_salt(sf_dir, "documents")
    dedup.dedup_edges(spark, sf_dir, 0.8)
    path = committed_dir(f"edges_t{int(round(dedup._BUILD_FLOOR * 10000))}_{salt}")
    mtime = max(
        os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    )
    # a second call must not rewrite the parquet
    dedup.dedup_edges(spark, sf_dir, 0.8).count()
    mtime2 = max(
        os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    )
    assert mtime2 == mtime

    # a HIGHER threshold is served from the existing build (no new key,
    # no new artifact committed), values = direct build at that threshold
    from parquet_to_csv_spark.sources.layout import artifact_root

    root = artifact_root(spark)
    n_dirs_before = len([d for d in os.listdir(root) if d.startswith("edges_")])
    served = _rows(dedup.dedup_edges(spark, sf_dir, 0.9))
    n_dirs_after = len([d for d in os.listdir(root) if d.startswith("edges_")])
    assert n_dirs_after == n_dirs_before
    assert not os.path.exists(os.path.join(root, f"edges_t9000_{salt}"))
    direct = _rows(dedup.ngram_jaccard_pairs(spark, sf_dir, 0.9))
    assert served == direct


def test_dedup_edges_content_keyed_invalidation(spark, sf_dir, tmp_path):
    """Round-4 regression gate (round-3 verdict #4): the cache key is
    the documents parquet's CONTENT salt, not its path — rewriting the
    fixture mid-process must trigger a fresh build, never serve stale
    edges from the old data."""
    import shutil
    import time

    from parquet_to_csv_spark.sources.tables import load_table, source_salt

    d = str(tmp_path / "sfmut")
    os.makedirs(d)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"),
                os.path.join(d, "documents.parquet"))

    first = _rows(dedup.dedup_edges(spark, d, 0.8))
    salt1 = source_salt(d, "documents")

    # rewrite the fixture with HALF the documents (drop every odd id);
    # ensure the stat salt actually moves even on coarse mtime clocks
    half = load_table(spark, d, "documents").filter("doc_id % 2 = 0")
    half_pd = half.toPandas()
    time.sleep(0.05)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.remove(os.path.join(d, "documents.parquet"))
    pq.write_table(pa.Table.from_pandas(half_pd), os.path.join(d, "documents.parquet"))

    salt2 = source_salt(d, "documents")
    assert salt2 != salt1

    second = _rows(dedup.dedup_edges(spark, d, 0.8))
    # stale-serve would return `first` verbatim; the halved corpus can
    # keep only pairs whose BOTH endpoints are even
    assert all(a % 2 == 0 and b % 2 == 0 for a, b, _ in second)
    assert second != first


def test_reliable_checkpoint_mode_identical(spark, sf_dir, tmp_path):
    """With spark.graft.checkpointDir set, every iterative lineage cut
    becomes a RELIABLE checkpoint(dir) (executor-loss-safe); results
    must be identical to localCheckpoint mode and checkpoint files
    must actually land in the directory."""
    import os

    from parquet_to_csv_spark.operators import dedup

    base = sorted(
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in dedup._dup_clusters_direct(spark, sf_dir).collect()
    )
    # the artifact-served wrapper must agree with the direct build
    # (round 12: dup_clusters serves a write-once parquet of the same
    # labels)
    art = sorted(
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in dedup.dup_clusters(spark, sf_dir).collect()
    )
    assert art == base
    ckdir = str(tmp_path / "ck")
    spark.conf.set("spark.graft.checkpointDir", ckdir)
    try:
        # reliable-checkpoint mode is a property of the CC loop itself —
        # exercised on the direct build (the artifact wrapper only runs
        # the loop at build time)
        ck = sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in dedup._dup_clusters_direct(spark, sf_dir).collect()
        )
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
    assert ck == base
    found = [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(ckdir)
        for f in fns
    ]
    assert found, "no reliable checkpoint files written"
