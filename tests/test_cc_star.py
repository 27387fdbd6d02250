"""Large-star/small-star connected components (round 4, verdict #9).

connected_components switches from its min-label probe to the Kiveris
et al. contraction when the probe does not converge. These tests pin
(a) exact parity of the contraction with connected_components on the
real near-dup graph, (b) correctness against a pure-Python union-find
on random graphs including shapes that stress each algorithm (long
chains = depth, stars = fan-out), (c) which path the switch takes on a
shallow and on a deep graph."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from parquet_to_csv_spark.operators import dedup


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling
    return {v: find(v) for v in list(parent)}


def _run_star(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["v"]: r["cluster_id"]
        for r in dedup._cc_star_contraction(df).collect()
    }


def test_star_contraction_long_chain(spark):
    # a 40-node path: diameter 39 — the shape min-label is slowest on
    edges = [(i, i + 1) for i in range(40)]
    got = _run_star(spark, edges)
    assert got == {v: 0 for v in range(41)}


def test_star_contraction_two_components_and_star(spark):
    edges = [(10, i) for i in range(11, 20)] + [(100, 101), (101, 102)]
    got = _run_star(spark, edges)
    want = {v: 10 for v in range(10, 20)}
    want.update({100: 100, 101: 100, 102: 100})
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=40,
))
def test_star_contraction_matches_union_find(spark, edges):
    got = _run_star(spark, edges)
    want = _union_find(edges)
    assert got == want


def test_star_contraction_parity_on_real_neardup_graph(spark, sf_dir):
    edges = dedup.dedup_edges(spark, sf_dir, 0.8).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    base = {
        (r["v"], r["cluster_id"])
        for r in dedup.connected_components(edges).collect()
    }
    star = {
        (r["v"], r["cluster_id"])
        for r in dedup._cc_star_contraction(edges).collect()
    }
    assert star == base and len(base) > 0


def test_auto_shallow_graph_stays_on_minlabel_probe(spark):
    # two shallow components: the default auto path must converge inside
    # the min-label probe and never engage star contraction
    edges = [(0, 1), (1, 2), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["v"]: r["cluster_id"]
           for r in dedup.connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}
    assert dedup.LAST_CC_ROUNDS["star"] == 0
    assert 1 <= dedup.LAST_CC_ROUNDS["minlabel"] <= 8


def test_auto_deep_chain_switches_to_star_contraction(spark):
    # round-6 verdict item 3: a 10k-vertex path graph (diameter 10k)
    # must NOT pay diameter rounds — the probe bails after 8 rounds
    # and star contraction converges in ~log² rounds.
    n = 10_000
    df = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = dedup.connected_components(df).collect()
    assert len(labels) == n
    assert all(r["cluster_id"] == 0 for r in labels)
    assert dedup.LAST_CC_ROUNDS["minlabel"] == 8       # probe exhausted
    assert 1 <= dedup.LAST_CC_ROUNDS["star"] <= 20     # ~log²(10k), not 10k
