"""Text + dedup tier tests, including LSH recall vs exact Jaccard."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from parquet_to_csv_spark.operators import dedup, text
from parquet_to_csv_spark.functions.textfn import fingerprint_col
from parquet_to_csv_spark.sources.tables import load_table


def test_exact_dedup_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.exact_dedup(spark, sf_dir)
    assert out.count() == docs.select("text").distinct().count()
    # total copies accounted for
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.filter(
        F.col("text").isNotNull()
    ).count() + (1 if docs.filter(F.col("text").isNull()).count() else 0) - (
        docs.filter(F.col("text").isNull()).count()
        and docs.filter(F.col("text").isNull()).count() - 1
    )


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(text="Hello  World"), Row(text="hello world "), Row(text="other")]
    )
    fps = [r[0] for r in df.select(fingerprint_col("text")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_minhash_lsh_finds_high_jaccard_pairs(spark, sf_dir):
    """Recall check: every pair with true shingle-Jaccard >= 0.7 must be
    produced by the LSH candidate path (8 bands × 4 rows ⇒ p(miss at
    0.7) = (1-0.7^4)^8 ≈ 0.1; the fixture near-dups are ~0.9+ where
    p(miss) < 1e-3)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup._shingle_df(docs)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter / union.cast("double")).alias("jac"),
        )
        .filter(F.col("jac") >= 0.7)
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, sf_dir, threshold=0.0).collect()
    }
    missed = [
        (r["doc_a"], r["doc_b"]) for r in truth.collect() if (r["doc_a"], r["doc_b"]) not in got
    ]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_minhash_deterministic(spark, sf_dir):
    p1 = dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    p2 = dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    assert sorted(map(tuple, p1)) == sorted(map(tuple, p2))


def test_simhash_identical_text_collides(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=3, text="completely different words entirely unrelated content here"),
        ]
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_quality_buckets(spark, sf_dir):
    out = text.quality_score(spark, sf_dir)
    assert set(r["quality_bucket"] for r in out.collect()) <= {
        "too_short",
        "repetitive",
        "symbol_heavy",
        "ok",
    }


def test_no_python_udfs_in_text_plans(spark, sf_dir):
    """Scale guard: the whole text tier must stay JVM-side."""
    for q in (text.text_stats, text.token_freq, text.quality_score, text.lang_id):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 4-chain, a 2-island, and a singleton
    edge resolve to min-id clusters regardless of edge direction."""
    from parquet_to_csv_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {
        r["v"]: r["cluster_id"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_bloom_guarantees(spark, sf_dir):
    """Bloom defining properties on the fixture: zero false negatives,
    some true positives, and a plausible (nonzero, small) FP count —
    the gate hash pins the exact numbers, this pins the semantics."""
    from parquet_to_csv_spark.operators.sketch import bloom_membership_stats

    r = bloom_membership_stats(spark, sf_dir).collect()[0]
    assert r["n_fn"] == 0
    assert r["n_tp"] > 0
    # at sf0.001's fill factor the expected FP count is ~0; only bound it
    assert r["n_fp"] <= r["n_tn"] * 0.05


def test_bm25_topk_plan_and_semantics(spark, sf_dir):
    from parquet_to_csv_spark.operators.text import bm25_topk

    df = bm25_topk(spark, sf_dir, k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # top-k never globally sorts
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 5
    # scores descend; every returned doc matched at least one term
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_matched"] >= 1 for r in rows)
    # a doc stuffed with one query term outranks one with a single hit:
    # verified implicitly by scores ordering; here pin determinism
    again = [r["doc_id"] for r in bm25_topk(spark, sf_dir, k=5).collect()]
    assert again == [r["doc_id"] for r in rows]


def test_hll_mergeable_and_accurate(spark, sf_dir):
    """HLL defining properties: (a) registers are partition-invariant,
    (b) sketching two disjoint halves and max-merging the register
    tables equals the whole-input sketch (the 100 TB merge path),
    (c) the estimate lands within the ~3σ band for m=256."""
    from parquet_to_csv_spark.operators.sketch import (
        hll_distinct_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id")
    whole = {
        (r["bucket"], r["m"]) for r in hll_registers(ev, "user_id").collect()
    }
    shuffled = {
        (r["bucket"], r["m"])
        for r in hll_registers(ev.repartition(7), "user_id").collect()
    }
    assert whole == shuffled
    lo = hll_registers(ev.filter(F.col("user_id") % 2 == 0), "user_id")
    hi = hll_registers(ev.filter(F.col("user_id") % 2 == 1), "user_id")
    merged = {
        (r["bucket"], r["m"])
        for r in lo.union(hi).groupBy("bucket").agg(F.max("m").alias("m")).collect()
    }
    assert merged == whole
    row = hll_distinct_estimate(spark, sf_dir).collect()[0]
    # m=256 → σ ≈ 1.04/√256 = 6.5%; 3σ ≈ 20%
    assert abs(row["hll_estimate"] - row["n_exact"]) <= 0.2 * row["n_exact"]


def test_cms_never_undercounts(spark, sf_dir):
    """CMS defining guarantee: estimate >= true count for every probe
    (an undercount is a bug, not a tuning issue), and the sketch is
    partition-invariant."""
    from parquet_to_csv_spark.operators.sketch import cms_build, cms_heavy_hitters
    from parquet_to_csv_spark.functions.textfn import tokens_col

    rows = cms_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["n_cms"] >= r["n_exact"] for r in rows)
    assert all(r["overcount"] == r["n_cms"] - r["n_exact"] for r in rows)
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")).alias("token"))
    )
    a = {(r["j"], r["c"], r["n"]) for r in cms_build(toks, "token").collect()}
    b = {
        (r["j"], r["c"], r["n"])
        for r in cms_build(toks.repartition(5), "token").collect()
    }
    assert a == b


def test_repetition_stats_local_replay(spark, sf_dir):
    """Per-doc ppm fractions equal a driver-side brute-force replay of
    the same integer arithmetic over the same tokenization."""
    from collections import Counter

    from parquet_to_csv_spark.functions.textfn import tokens_col

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .collect()
    )
    expect = {}
    for r in docs:
        t = r["toks"]
        if len(t) < 3:
            continue
        for n, key in ((2, "bi"), (3, "tri")):
            grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            c = Counter(grams)
            total, dist, top = len(grams), len(c), max(c.values())
            expect[(r["doc_id"], n)] = (
                total,
                ((total - dist) * 1_000_000) // total,
                (top * 1_000_000) // total,
            )
    got = text.repetition_stats(spark, sf_dir).collect()
    assert len(got) == len({d for d, _ in expect})
    for r in got:
        tb, db, pb = expect[(r["doc_id"], 2)]
        tt, dt, _ = expect[(r["doc_id"], 3)]
        assert (r["n_bigrams"], r["dup_bigram_ppm"], r["top_bigram_ppm"]) == (tb, db, pb)
        assert (r["n_trigrams"], r["dup_trigram_ppm"]) == (tt, dt)


def _ppb_pagerank_replay(adj, e, iters):
    """Driver-side replay of the integer ppb PageRank recurrence over
    ``adj[v] = {u: w}``: contribution pr·w div Σw, update 15 % of the
    teleport ``e[v]`` plus 85 % of the incoming sum, starting at pr = e."""
    from collections import defaultdict

    wdeg = {v: sum(ns.values()) for v, ns in adj.items()}
    pr = dict(e)
    for _ in range(iters):
        inc = defaultdict(int)
        for v, ns in adj.items():
            for u, w in ns.items():
                inc[u] += (pr[v] * w) // wdeg[v]
        pr = {v: (15 * e[v]) // 100 + (85 * inc[v]) // 100 for v in adj}
    return pr, wdeg


def _adjacency(pairs, weight):
    from collections import defaultdict

    adj = defaultdict(dict)
    for r in pairs:
        w = weight(r)
        adj[r["doc_a"]][r["doc_b"]] = w
        adj[r["doc_b"]][r["doc_a"]] = w
    return adj


@pytest.mark.parametrize(
    "op", ["neardup_pagerank", "weighted_pagerank", "personalized_pagerank"]
)
def test_pagerank_integer_replay_and_bounds(spark, sf_dir, op):
    """Each near-dup PageRank operator equals a driver-side replay of
    the integer ppb recurrence on the collected edge set, and every
    uniform-teleport rank carries the damping floor."""
    if op == "personalized_pagerank":
        pairs = dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8, blocked=False)
        adj = _adjacency(pairs.collect(), lambda r: 1)
        seeds = {
            r["doc_id"]
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("source") == "src0")
            .collect()
        } & set(adj)
        e = {v: (1_000_000_000 // len(seeds) if v in seeds else 0) for v in adj}
        pr, deg = _ppb_pagerank_replay(adj, e, 3)
        ranked = sorted(
            (v for v in adj if v not in seeds and pr[v] > 0),
            key=lambda v: (-pr[v], v),
        )[:20]
        got = dedup.personalized_pagerank(spark, sf_dir).collect()
        assert seeds and len(got) == len(ranked) > 0
        assert [
            (r["doc_id"], r["deg"], r["ppr_ppb"], r["rank"]) for r in got
        ] == [(v, deg[v], pr[v], i + 1) for i, v in enumerate(ranked)]
        return
    pairs = dedup.ngram_jaccard_pairs(spark, sf_dir, 0.8).collect()
    if op == "weighted_pagerank":
        adj = _adjacency(pairs, lambda r: math.floor(r["jaccard"] * 10000 + 0.5))
        deg_col = "wdeg"
    else:
        adj = _adjacency(pairs, lambda r: 1)
        deg_col = "deg"
    pr, deg = _ppb_pagerank_replay(adj, {v: 1_000_000_000 for v in adj}, 2)
    got = getattr(dedup, op)(spark, sf_dir).collect()
    assert len(got) == len(pr)
    for r in got:
        assert r["pr_ppb"] == pr[r["doc_id"]]
        assert r[deg_col] == deg[r["doc_id"]]
        assert r["pr_ppb"] >= 150_000_000


def test_oov_rate_consistency(spark, sf_dir):
    """OOV counts: per-lang totals add up to the corpus token count,
    the vocabulary actually covers the majority mass (top-V by
    frequency), and ppm matches the integer division."""
    rows = text.oov_rate(spark, sf_dir).collect()
    from parquet_to_csv_spark.functions.textfn import tokens_col

    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")).alias("t"))
        .count()
    )
    assert sum(r["n_tokens"] for r in rows) == total
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert r["oov_ppm"] == (r["n_oov"] * 1_000_000) // r["n_tokens"]
    # top-30 vocab over a skewed corpus covers most instances
    agg_oov = sum(r["n_oov"] for r in rows)
    assert agg_oov < total // 2


def test_posting_lists_sharded_and_bounded(spark, sf_dir):
    from parquet_to_csv_spark.operators.text import posting_lists

    rows = posting_lists(spark, sf_dir, shard_size=50).collect()
    assert rows
    # no posting array can exceed its doc-range shard width
    assert max(r["df_shard"] for r in rows) <= 50
    # digests are hex md5 and deterministic across recomputation
    again = {(r["token"], r["shard"]): r["postings_md5"] for r in rows}
    assert all(len(v) == 32 for v in again.values())
    rows2 = posting_lists(spark, sf_dir, shard_size=50).collect()
    assert {(r["token"], r["shard"]): r["postings_md5"] for r in rows2} == again


def test_source_ngram_overlap_bounds_and_symmetry(spark, sf_dir):
    from parquet_to_csv_spark.operators.text import source_ngram_overlap

    rows = source_ngram_overlap(spark, sf_dir).collect()
    assert rows
    shared = {(r["src_a"], r["src_b"]): r["n_shared"] for r in rows}
    for r in rows:
        assert r["src_a"] != r["src_b"]
        assert 0 <= r["containment_ppm"] <= 1_000_000
        assert r["n_shared"] <= r["n_grams_a"]
        # the intersection count is symmetric even though containment isn't
        assert shared[(r["src_b"], r["src_a"])] == r["n_shared"]


def test_hll_segment_overlap_identity_and_error(spark, sf_dir):
    from parquet_to_csv_spark.operators.sketch import hll_segment_overlap

    r = hll_segment_overlap(spark, sf_dir).collect()[0]
    # inclusion-exclusion identity holds on the emitted (rounded) values
    assert abs((r["est_a"] + r["est_b"] - r["est_union"]) - r["est_intersection"]) < 0.02
    # each single-set estimate lands within the coarse 256-register
    # error envelope of its exact count
    for est, exact in [
        (r["est_a"], r["n_exact_a"]),
        (r["est_b"], r["n_exact_b"]),
        (r["est_union"], r["n_exact_union"]),
    ]:
        assert exact > 0 and abs(est - exact) / exact < 0.25


def test_bpe_learn_matches_reference_python_trainer(spark, sf_dir):
    """Replay classic BPE (count adjacent pairs over the word-freq
    relation, greedy left-to-right merge) in plain Python and require
    the identical merge table."""
    from collections import Counter

    from parquet_to_csv_spark.operators.text import bpe_learn
    from parquet_to_csv_spark.sources.tables import load_table

    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["n_occ"])
        for r in bpe_learn(spark, sf_dir, k=3).orderBy("step").collect()
    ]

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    words = Counter()
    for row in docs:
        for w in row["text"].lower().split():
            if w:
                words[w] += 1
    syms = {w: list(w) for w in words}
    expect = []
    for step in range(1, 4):
        cnt = Counter()
        for w, freq in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += freq
        (l, r), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((step, l, r, l + r, n))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == expect
