"""Round-11/12 optimization invariants and the shared Lloyd kernel.

1. k-means and the IVF index share one Lloyd kernel
   (``similarity._lloyd_centroids``): ``kmeans_iterations`` cells and
   ``build_ivf_index`` assignments must agree row for row, and the
   staleness report over that index must count every vector once.
2. The PPJoin positional filter added to ``ngram_jaccard_pairs`` must
   not change the verified pair relation (it only prunes candidate rows
   that can never verify): pinned against a filter-free replica of the
   original candidate join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_to_csv_spark.operators import dedup, similarity
from parquet_to_csv_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_kmeans_and_ivf_index_share_lloyd_kernel(spark, sf_dir, tmp_path):
    index_dir = str(tmp_path / "ivf")
    similarity.build_ivf_index(spark, sf_dir, index_dir, n_cells=8, n_iter=2)
    _, assign = similarity.load_ivf_index(spark, index_dir)
    km = similarity.kmeans_iterations(spark, sf_dir, k=8, n_iter=2)
    assert _rows(km.select("vec_id", "cell")) == _rows(assign.select("vec_id", "cell"))
    stale = similarity.ivf_index_staleness(spark, sf_dir, index_dir=index_dir)
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in stale.collect()) == n_vecs


@pytest.fixture(scope="module")
def token_base(spark, sf_dir):
    return dedup._token_base(spark, sf_dir)


def test_positional_filter_preserves_pairs(spark, sf_dir, token_base):
    """ngram_jaccard_pairs (with the PPJoin positional filter) must
    produce exactly the pair relation of the unfiltered candidate join
    at every tier threshold, blocked and unblocked."""
    base = token_base
    for threshold, blocked in ((0.8, False), (0.8, True), (0.5, True)):
        plen = (
            F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1
        ).cast("int")
        pref = base.select(
            "doc_id", "lang", "source", "sz",
            F.explode(F.slice("toks", F.lit(1), plen)).alias("ptok"),
        )
        a, b = pref.alias("a"), pref.alias("b")
        eps = 1e-9
        cond = (
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(eps))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(eps))
        )
        if blocked:
            cond = (
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.source") == F.col("b.source"))
                & cond
            )
        cand = (
            a.join(b, cond)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa = base.select(
            F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
        )
        sb = base.select(
            F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
        )
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
        union = F.size("toks_a") + F.size("toks_b") - inter
        jac = F.when(union > 0, inter / union.cast("double"))
        reference = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        got = dedup.ngram_jaccard_pairs(spark, sf_dir, threshold, blocked=blocked)
        assert _rows(got) == _rows(reference), (threshold, blocked)
