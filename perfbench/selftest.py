"""Self-test of the benchmark's own code (no Spark needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

Checks that the generators are deterministic per seed and differ across
seeds, that the generated inputs have the properties the workloads
rely on, that the percentile and failure counting are right, that a
wrong answer is counted as a failed op, and that the metric lists agree
with BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, oracles  # noqa: E402
from perfbench.harness import Ledger, OpRecord, calibrate, digest, percentile  # noqa: E402


def _tree_hash(root: str) -> str:
    """Hash of the row content of every Parquet file under ``root``
    (file metadata such as the writer version is left out)."""
    import pyarrow.parquet as pq

    h = hashlib.sha1()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            h.update(repr(pq.read_table(path).to_pydict()).encode())
    return h.hexdigest()


def _generate(seed: int, root: str) -> dict:
    return {
        "tree": gen.gen_convert_tree(seed, os.path.join(root, "tree"), n_files=4,
                                     rows_per_file=400),
        "sf": gen.gen_sf_tables(seed, os.path.join(root, "sf"), scale=0.1),
        "cc": gen.gen_cc_edges(seed, os.path.join(root, "cc.parquet"), 20, 5, 2, 12),
        "events": gen.gen_event_files(seed, os.path.join(root, "events"), n_files=3,
                                      rows_per_file=200),
    }


def test_generators_deterministic_per_seed():
    with tempfile.TemporaryDirectory() as d:
        hashes = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            _generate(seed, os.path.join(d, tag))
            hashes[tag] = _tree_hash(os.path.join(d, tag))
        assert hashes["a"] == hashes["b"]
        assert hashes["a"] != hashes["c"]


def test_generator_properties():
    with tempfile.TemporaryDirectory() as d:
        info = _generate(3, d)
        tree = info["tree"]
        assert tree["subdirs"] >= 3
        assert tree["dup_share"] >= 0.01
        exp = oracles.convert_expected(tree["root"], 2000, 2650)
        assert exp["at_boundary"].get(2000) and exp["at_boundary"].get(2650)
        assert set(gen.SCHEMA_A_ONLY + gen.SCHEMA_B_ONLY) <= set(exp["columns"])
        assert 0 < exp["long"] < exp["full"] < tree["rows"]
        cc = info["cc"]
        assert cc["diameter_max"] == 11     # a 12-vertex chain
        labels = oracles.union_find_labels(cc["src"], cc["dst"])
        assert len(set(labels.values())) == cc["components"]
        assert info["events"]["duplicates"] > 0
        # near-duplicate documents as in the fixture: every pair at shingle
        # Jaccard >= 0.5 is a one-token extension, so at 0.88 or more
        oracle = oracles.QueryOracle(info["sf"]["dir"], ["documents"])
        pairs = oracle.con.execute(oracles.FAST_ORACLES["minhash_lsh_pairs"]).fetchall()
        oracle.close()
        assert pairs and min(p[2] for p in pairs) >= 0.88


def test_fast_oracles_match_the_registry():
    from parquet_to_csv_spark.plans.registry import ORACLES
    from parquet_to_csv_spark.sources.tables import TABLE_NAMES

    with tempfile.TemporaryDirectory() as d:
        for seed in (1, 2):
            gen.gen_sf_tables(seed, os.path.join(d, str(seed)), scale=0.4)
            oracle = oracles.QueryOracle(os.path.join(d, str(seed)), TABLE_NAMES)
            for name, sql in oracles.FAST_ORACLES.items():
                cur = oracle.con.execute(ORACLES[name])
                want = cur.fetchall()
                cols = [c[0] for c in cur.description]
                assert want, name
                assert oracle.check(sql, cols, want) == (True, ""), name
            oracle.close()


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 5, 26, 101):
        xs = rng.exponential(1.0, n).tolist()
        for p in (0, 10, 50, 90, 100):
            assert abs(percentile(xs, p) - float(np.percentile(xs, p))) < 1e-12
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 90) == 3.7


def test_failed_ops_stay_in_the_denominator():
    ledger = Ledger()
    for i in range(10):
        ledger.add(OpRecord("q", "measure", wall_s=1.0, cpu_s=2.0, ok=i not in (3, 5), rows=5))
    ledger.add(OpRecord("q", "warmup", wall_s=9.0, cpu_s=9.0, ok=False))
    assert ledger.counts("measure") == (10, 2)
    assert ledger.failed_frac("measure") == 0.2
    e2e = ledger.figures()
    assert e2e["ops_per_s"] == 0.8          # 8 verified ops over 10 s of timed wall
    assert e2e["rows_per_s"] == 4.0
    assert e2e["op_p50_s"] == 1.0 and e2e["cpu_s_per_op"] == 2.0


def test_wrong_answer_counts_as_failed():
    class FakeOracle:
        def check(self, sql, cols, rows):
            return oracles.compare_rows(cols, rows, ["a", "b"], [(1, "x"), (2, "y")])

    from perfbench.workloads import QueryOp

    op = QueryOp("q", build=None, sql="", oracle=FakeOracle(), sf_dir="")
    assert op.check((["b", "a"], [("y", 2), ("x", 1)], None)) == (True, "")
    # same answer again: the digest matches
    assert op.check((["a", "b"], [(2, "y"), (1, "x")], None))[0]
    # a later wrong answer fails on the digest
    ok, detail = op.check((["a", "b"], [(1, "x"), (2, "z")], None))
    assert not ok and "digest" in detail
    # a wrong first answer fails, and so does every later op of that query
    op2 = QueryOp("q2", build=None, sql="", oracle=FakeOracle(), sf_dir="")
    assert not op2.check((["a", "b"], [(1, "x")], None))[0]
    assert not op2.check((["a", "b"], [(1, "x"), (2, "y")], None))[0]


def test_calibrate_is_a_short_positive_time():
    assert 0 < calibrate() < 1.0


def test_normalisation_and_digest():
    import datetime as dt
    import decimal

    assert oracles.norm(5.0) == oracles.norm(5) == 5
    assert oracles.norm(decimal.Decimal("1.50")) == 1.5
    assert oracles.norm(float("nan")) == "NaN"
    utc = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    assert oracles.norm(utc) == oracles.norm(dt.datetime(2024, 1, 1, 12))
    assert oracles.norm([1, 2.0]) == (1, 2)
    assert digest([(1, "a"), (2, "b")]) == digest([(2, "b"), (1, "a")])
    assert digest([(1, "a")]) != digest([(1, "b")])


def test_streaming_expectations():
    import pandas as pd

    ev = pd.DataFrame({
        "event_id": [1, 2, 2, 3],
        "ts": [3_600_000_000_000 * h + 5 for h in (0, 0, 0, 1)],
        "user_id": [7, 8, 8, 7],
        "event_type": ["a", "a", "a", "b"],
        "value": [0.1, 0.2, 0.2, 1.25],
        "props": ["", "", "", ""],
    })
    cols, rows = oracles.expected_stream("tumbling", ev)
    assert sorted(rows) == [(0, "a", 3, 0.5), (3_600_000, "b", 1, 1.25)]
    cols, rows = oracles.expected_stream("dedup", ev)
    assert len(rows) == 3
    cols, rows = oracles.expected_stream("stateful", ev)
    assert sorted(rows)[0] == (7, 2, 1.35, 3_600_000_000)
    emitted = [(7, 1, 0.1, 0), (7, 2, 1.35, 3_600_000_000)]
    assert oracles.final_update_rows(cols, emitted) == [emitted[1]]


def test_metric_lists_match_benchmark_json():
    from perfbench.run import END_TO_END
    from perfbench.workloads import PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(WORKLOADS) == {w["name"] for w in bench["workloads"]}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
    print(f"{len(tests)} passed")
