"""E491 multi-table transaction lifecycle: catalog isolation, the
base_version transactional append, write-write conflicts, and
disjoint-table interleaving. Plus E487 partition-evolution guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import parquet_to_csv_spark.sources.layout as L


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_tx_catalog_isolation_and_base_version(spark, tmp_path):
    """A table-level commit outside any tx is invisible to catalog
    reads, and a transactional append's lineage excludes it."""
    import os

    troot = str(tmp_path / "tx")
    L.commit_transaction(spark, troot, {"a": (_df(spark, 0, 5), "append")})
    tdir = os.path.join(troot, "tables", "a")
    # abandoned table-level write
    L.commit_version(spark, tdir, _df(spark, 100, 103), mode="append")
    assert L.latest_version(tdir) == 1
    # catalog still pins v0
    assert L.read_tx_table(spark, troot, "a").count() == 5
    # transactional append: base = catalog pin, debris excluded
    L.commit_transaction(spark, troot, {"a": (_df(spark, 5, 8), "append")})
    got = sorted(r["k"] for r in L.read_tx_table(spark, troot, "a").collect())
    assert got == list(range(8))
    # the table-level history kept everything (manifests are immutable)
    assert L.latest_version(tdir) == 2
    direct = sorted(r["k"] for r in L.read_version(spark, tdir, 1).collect())
    assert direct == [0, 1, 2, 3, 4, 100, 101, 102]


def test_tx_write_write_conflict_raises(spark, tmp_path, monkeypatch):
    troot = str(tmp_path / "tx")
    L.commit_transaction(spark, troot, {"a": (_df(spark, 0, 3), "append")})
    orig = L.commit_version
    state = {"fired": False}

    def sneaky(spark_, tdir, df, **kw):
        v = orig(spark_, tdir, df, **kw)
        if not state["fired"]:
            state["fired"] = True
            # a competing tx on the SAME table lands between our staging
            # and our tx-log link
            L.commit_transaction(
                spark_, troot, {"a": (_df(spark_, 50, 52), "append")}
            )
        return v

    monkeypatch.setattr(L, "commit_version", sneaky)
    with pytest.raises(RuntimeError, match="tx conflict"):
        L.commit_transaction(spark, troot, {"a": (_df(spark, 3, 6), "append")})
    # the loser's staged version is debris; catalog holds the racer's rows
    got = sorted(r["k"] for r in L.read_tx_table(spark, troot, "a").collect())
    assert got == [0, 1, 2, 50, 51]


def test_tx_disjoint_tables_interleave(spark, tmp_path, monkeypatch):
    troot = str(tmp_path / "tx")
    L.commit_transaction(spark, troot, {"a": (_df(spark, 0, 3), "append")})
    orig = L.commit_version
    state = {"fired": False}

    def sneaky(spark_, tdir, df, **kw):
        v = orig(spark_, tdir, df, **kw)
        if not state["fired"]:
            state["fired"] = True
            L.commit_transaction(
                spark_, troot, {"b": (_df(spark_, 90, 92), "append")}
            )
        return v

    monkeypatch.setattr(L, "commit_version", sneaky)
    # disjoint tables: our tx must succeed AND keep the racer's pin
    L.commit_transaction(spark, troot, {"a": (_df(spark, 3, 6), "append")})
    pins = L.read_tx_catalog(troot)
    assert set(pins) == {"a", "b"}
    assert L.read_tx_table(spark, troot, "a").count() == 6
    assert L.read_tx_table(spark, troot, "b").count() == 2


def test_hidden_partitioning_rejects_unknown_pred(spark, tmp_path):
    troot = str(tmp_path / "hp")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("v")
    )
    L.commit_partitioned(spark, troot, df, [("pv", F.col("v"))])
    sub, scanned, total = L.read_hidden_partitioned(spark, troot, {"pv": 2})
    assert scanned == 1 and total == 4
    assert sorted(r["k"] for r in sub.collect()) == [2, 6, 10, 14, 18]
    with pytest.raises(KeyError):
        L.read_hidden_partitioned(spark, troot, {"nope": 1})


def test_partition_evolution_conservative_keep(spark, tmp_path):
    """Files written under the OLD spec are kept whenever the predicate
    uses a transform they never recorded; unknown transforms raise."""
    import pytest as _pytest

    df0 = spark.range(0, 12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v"),
        (F.col("id") % 2).alias("b"),
    )
    troot = str(tmp_path / "pe")
    L.commit_partitioned(spark, troot, df0.filter("k < 6"), [("pv", F.col("v"))])
    L.commit_partitioned(
        spark, troot, df0.filter("k >= 6"),
        [("pv", F.col("v")), ("pb", F.col("b"))], mode="append",
    )
    # pb predicate: old files (3 pv dirs) all kept; new files prune
    sub, scanned, total = L.read_hidden_partitioned(spark, troot, {"pb": 1})
    old_rows = {r["k"] for r in sub.collect() if r["k"] < 6}
    new_rows = {r["k"] for r in sub.collect() if r["k"] >= 6}
    assert old_rows == {0, 1, 2, 3, 4, 5}          # conservative keep
    assert new_rows == {7, 9, 11}                   # pruned to b=1
    assert scanned < total
    # pv predicate prunes BOTH specs
    sub2, s2, _ = L.read_hidden_partitioned(spark, troot, {"pv": 2})
    assert {r["k"] for r in sub2.collect()} == {2, 5, 8, 11}
    with _pytest.raises(KeyError):
        L.read_hidden_partitioned(spark, troot, {"nope": 1})


def test_hidden_partitioning_keeps_delete_vectors(spark, tmp_path):
    """A delete vector survives on a hidden-partitioned table: the
    delete keeps the partition spec, a partitioned append keeps the
    vector, and the read applies it. A merge keeps the spec too."""
    t = str(tmp_path / "hpd")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    spec = [("pk", F.col("k") % 2)]
    L.commit_partitioned(spark, t, df, spec)
    L.commit_deletes(spark, t, "k < 5")
    sub, _, _ = L.read_hidden_partitioned(spark, t, {"pk": (0, 1)})
    assert sub.count() == 15
    evens, _, _ = L.read_hidden_partitioned(spark, t, {"pk": 0})
    assert sorted(r["k"] for r in evens.collect()) == list(range(6, 20, 2))
    L.commit_partitioned(
        spark, t, spark.range(20, 22).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ), spec, mode="append",
    )
    full, _, _ = L.read_hidden_partitioned(spark, t, None)
    assert full.count() == 17
    assert L.read_version(spark, t).count() == 17
    L.merge_into(
        spark, t, spark.createDataFrame([(6, -1)], "k long, v long"), "k"
    )
    merged, _, _ = L.read_hidden_partitioned(spark, t, {"pk": (0, 1)})
    rows = sorted((r["k"], r["v"]) for r in merged.collect())
    assert len(rows) == 17 and (6, -1) in rows and (6, 60) not in rows


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _plain_append(spark, t):
    L.commit_version(spark, t, _kv(spark, 20, 24), mode="append")
    return t


def _clone(spark, t):
    L.clone_table(t, t + "_clone")
    return t + "_clone"


def _restore(spark, t):
    L.restore_table(spark, t, 0)
    return t


def _optimize(spark, t):
    L.optimize_batches(spark, t)
    return t


@pytest.mark.parametrize(
    "writer", [_plain_append, _clone, _restore, _optimize],
    ids=["append", "clone", "restore", "optimize"],
)
def test_hidden_partition_spec_survives_writer(spark, tmp_path, writer):
    """Every manifest writer keeps a hidden-partitioned table's spec:
    afterwards a predicate read still resolves, and its even rows are
    the snapshot's even rows."""
    t = str(tmp_path / "hps")
    L.commit_partitioned(spark, t, _kv(spark, 0, 20), [("pk", F.col("k") % 2)])
    L.commit_deletes(spark, t, "k < 5")
    t = writer(spark, t)
    evens, _, _ = L.read_hidden_partitioned(spark, t, {"pk": 0})
    got = sorted(r["k"] for r in evens.collect() if r["k"] % 2 == 0)
    want = sorted(
        r["k"] for r in L.read_version(spark, t).collect() if r["k"] % 2 == 0
    )
    assert got == want and got


def test_merge_delete_branch_semantics(spark, tmp_path):
    """DELETE-branch keys vanish; overlap with the upsert branch is
    rejected; everything lands in one version."""
    import pytest as _pytest

    troot = str(tmp_path / "md")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    L.commit_version(spark, troot, df, mode="append")
    ups = spark.range(0, 2).select(
        F.col("id").alias("k"), F.lit(999).cast("long").alias("v")
    )
    dels = spark.range(5, 8).select(F.col("id").alias("k"))
    v = L.merge_into(spark, troot, ups, "k", delete_keys=dels)
    assert v == 1
    got = {r["k"]: r["v"] for r in L.read_version(spark, troot, 1).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 8, 9}
    assert got[0] == got[1] == 999 and got[2] == 20
    # overlapping key in both branches -> loud rejection
    with _pytest.raises(ValueError, match="ambiguous"):
        L.merge_into(
            spark, troot,
            spark.range(8, 9).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v")),
            "k",
            delete_keys=spark.range(8, 9).select(F.col("id").alias("k")),
        )


def test_branch_refs_isolation_and_ff_rules(spark, tmp_path):
    troot = str(tmp_path / "refs")
    L.commit_version(spark, troot, _df(spark, 0, 4))
    L.create_ref(troot, "main")
    L.create_ref(troot, "exp", from_ref="main")
    # branch commit: main untouched
    L.commit_to_ref(spark, troot, "exp", _df(spark, 4, 6))
    assert L.read_ref(spark, troot, "main").count() == 4
    assert L.read_ref(spark, troot, "exp").count() == 6
    # a DIVERGENT main commit forbids fast-forward from exp
    L.commit_to_ref(spark, troot, "main", _df(spark, 100, 101))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-fast-forward"):
        L.fast_forward(troot, "main", "exp")
    # and exp's lineage never absorbed main's divergent row
    got = sorted(r["k"] for r in L.read_ref(spark, troot, "exp").collect())
    assert got == [0, 1, 2, 3, 4, 5]


def test_replace_where_scope_rejection(spark, tmp_path):
    troot = str(tmp_path / "rw")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    L.commit_version(spark, troot, df)
    import pytest as _pytest

    # incoming rows escaping the predicate scope are rejected
    with _pytest.raises(ValueError, match="violate the scope"):
        L.replace_where(
            spark, troot, "g = 1",
            spark.range(100, 102).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("g")
            ),
        )
    # a clean replace swaps exactly the scoped slice
    L.replace_where(
        spark, troot, "g = 1",
        spark.range(100, 102).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("g")
        ),
    )
    got = sorted(r["k"] for r in L.read_version(spark, troot, 1).collect())
    assert got == [0, 2, 4, 6, 8, 100, 101]


def test_vacuum_is_ref_aware(spark, tmp_path):
    """E520: a branch ref pinning an old version keeps that version's
    files AND manifest through vacuum(keep_versions=1); an unpinned old
    version is reclaimed as before."""
    troot = str(tmp_path / "refvac")
    L.commit_version(spark, troot, _df(spark, 0, 4))          # v0
    L.create_ref(troot, "pin")                                 # pins v0
    L.commit_version(spark, troot, _df(spark, 4, 6))           # v1
    L.commit_version(spark, troot, _df(spark, 6, 8))           # v2
    deleted = L.vacuum(troot, keep_versions=1, grace_seconds=0)
    # v0's files are pinned by the ref: still readable end to end
    assert sorted(r["k"] for r in L.read_ref(spark, troot, "pin").collect()) == [0, 1, 2, 3]
    assert sorted(r["k"] for r in L.read_version(spark, troot, 2).collect()) == list(range(8))
    # an append-only store: appends share v0's files, so nothing was
    # actually orphaned here — now drop the ref scenario: a table with
    # an UNPINNED overwritten version loses its files
    troot2 = str(tmp_path / "novac")
    L.commit_version(spark, troot2, _df(spark, 0, 4))
    L.commit_version(spark, troot2, _df(spark, 10, 12), mode="overwrite")
    deleted2 = L.vacuum(troot2, keep_versions=1, grace_seconds=0)
    assert deleted2  # v0's files reclaimed
    # and the pinned variant of the SAME shape keeps them
    troot3 = str(tmp_path / "pinvac")
    L.commit_version(spark, troot3, _df(spark, 0, 4))
    L.create_ref(troot3, "keep")
    L.commit_version(spark, troot3, _df(spark, 10, 12), mode="overwrite")
    deleted3 = L.vacuum(troot3, keep_versions=1, grace_seconds=0)
    assert deleted3 == []
    assert sorted(r["k"] for r in L.read_ref(spark, troot3, "keep").collect()) == [0, 1, 2, 3]
