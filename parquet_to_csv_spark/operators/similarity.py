"""Embedding similarity search — EXT E3 + north-star ANN.

Three tiers over ``embeddings`` (``array<float>``, 64-dim):

1. **Brute-force top-k cosine** for a bounded query set: broadcast the
   queries, one pass over the candidate table, per-group top-k via
   window row_number. Exact; cost O(|queries| × N) — the right tool
   when |queries| is small, even at 100 TB of candidates.
2. **Blocked near-dup pairs**: exact cosine within label blocks —
   quadratic per block; the blocking key bounds the join.
3. **IVF (inverted-file) ANN**: deterministic centroid set → assign
   every vector to its nearest centroid (broadcast centroids, one
   pass) → search only the query's nprobe closest cells. Same
   recall/cost trade as FAISS-IVF, expressed as two broadcast joins +
   a window top-k — the 100 TB path, since each query touches only
   ~nprobe/ncells of the data, and the partition-by-cell layout is
   exactly how you'd physically cluster the table.

All cosine math is the native ``zip_with``/``aggregate`` expression
(functions.vectors) accumulated in double — codegen'd, Arrow-free,
and bit-identical to the DuckDB oracle's double math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from parquet_to_csv_spark.functions.vectors import dot_product, l2_norm
from parquet_to_csv_spark.sources.tables import load_table

def cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries.

    Queries are a broadcast nested-loop against the scan — no shuffle
    of the candidate side; the per-query top-k is a window over
    |queries|×N rows hash-partitioned on query_id.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms are precomputed per relation (O(N) array passes), so the
    # |queries|×N pair stage pays only the dot product — same float
    # expression dot/(nrm_q*nrm_c) as the fused form and the oracle,
    # just evaluated ~3× less often.
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    denom = F.col("q_nrm") * F.col("c_nrm")
    sim = F.when(
        denom > F.lit(0.0), dot_product(F.col("q_emb"), F.col("c_emb")) / denom
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


def _srp_fold(vec_sql: str, planes: list[list[float]]) -> "F.Column":
    """Whole-bucket id in ONE nested-HOF expression: bit j = sign of
    ⟨v, h_j⟩, summed as Σ when(dot(v,h_j)>0, 2^j) over ascending j.

    Round 12 (guide §4 — plan-construction cost): the previous shape
    built one dot-product tree PER PLANE per use site (n_bits × tables
    × both self-join sides) with per-element ``F.lit`` literals, and
    the py4j round-trips to assemble them dominated srp_lsh_topk's
    wall (build 1.7 s of 2.5 s total; profiled 1.5 s in socket
    ``recv_into``). The whole fold is now ONE ``F.expr`` SQL string —
    a single py4j call; the JVM parser builds the tree. ``vec_sql`` is
    the input column as a SQL identifier/expression.

    Value parity: the inner dot is the identical cast-multiply
    zip_with/aggregate left fold; the outer sum is exact integer
    addition in the same ascending-j order; ``repr(float)`` is the
    shortest round-trip decimal and the ``D`` suffix forces the SQL
    DOUBLE parse path (a bare ``x.y`` literal is DECIMAL — the round-4
    truncation trap), so every parsed plane is bit-identical to the
    old element-wise literal."""
    mat_sql = "array(" + ",".join(
        "array(" + ",".join(f"{v!r}D" for v in h) + ")" for h in planes
    ) + ")"
    w_sql = "array(" + ",".join(str(1 << j) for j in range(len(planes))) + ")"
    dot = (
        f"aggregate(zip_with({vec_sql}, h, (x, y) -> "
        "cast(x as double) * cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )
    return F.expr(
        f"aggregate(zip_with({mat_sql}, {w_sql}, (h, w) -> "
        f"CASE WHEN {dot} > 0 THEN w ELSE 0 END), 0, (acc, v) -> acc + v)"
    )


def _srp_bits(vec_sql: str, n_bits: int = 8, dim: int = 64, seed: int = 1234) -> "F.Column":
    """Signed-random-projection sub-key: ``n_bits`` fixed Gaussian
    hyperplanes (seeded literals — no data pass, identical everywhere);
    bit j = sign of ⟨v, h_j⟩. Deterministic per vector."""
    import random as _random

    rng = _random.Random(seed)
    return _srp_fold(
        vec_sql, [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
    )


def neardup_pairs_df(
    emb: DataFrame, threshold: float = 0.4, max_block: int = 100_000
) -> DataFrame:
    """Core of :func:`embedding_neardup_pairs` over any
    (vec_id, label, embedding) relation.

    Block-size guard: pairing is quadratic *within* a label block, so
    one fat label (a bot user, a default value) would put O(cnt²) pairs
    in one task at 100 TB. Labels above ``max_block`` rows get an
    8-bit signed-random-projection sub-key folded into the join key —
    bounding each task to ~(cnt/256)² pairs. Within-cap labels keep
    sub-key 0 on both sides: their results are EXACTLY unchanged; over
    cap the operator degrades (documented) to pairs that agree on the
    SRP sub-bucket, the standard recall trade for capping hot blocks
    (the LSH/IVF tiers are the principled path for such data).
    """
    normed = emb.select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    # one row per label — plain join (AQE broadcasts when small; at huge
    # label cardinality a broadcast hint would be the scale-killer).
    cnts = normed.groupBy("label").agg(F.count(F.lit(1)).alias("_bn"))
    keyed = normed.join(cnts, "label").withColumn(
        "_sub",
        F.when(F.col("_bn") > max_block, _srp_bits("embedding")).otherwise(
            F.lit(0)
        ),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    sim = dot_product(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    # The threshold lives IN the join condition, after the id
    # inequality: a trailing .filter(cosine >= t) gets pushed into the
    # join by Catalyst but lands BEFORE the residual `vec_id <` test,
    # so the O(dim) interpreted cosine fold ran for every ORDERED pair
    # (n² per block). Conjunct order is preserved left-to-right and the
    # join's codegen short-circuits, so placing `vec_id <` first halves
    # the dominant per-pair cost — same rows, same values.
    return a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a._sub") == F.col("b._sub"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
        & (F.round(sim, 6) >= threshold),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.label").alias("label"),
        F.round(sim, 6).alias("cosine"),
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label blocks.

    The label is the blocking key (at scale: an LSH bucket or IVF cell
    id); within-block pairing is local after one shuffle per side.
    Hot blocks past ``max_block`` are SRP-sub-blocked — see
    :func:`neardup_pairs_df`.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms are precomputed ONCE before the pair join — norms are O(N),
    # the join is O(pairs); recomputing norms per pair would triple the
    # dominant cost.
    return neardup_pairs_df(emb, threshold=threshold)


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate nearest neighbors.

    Centroids: the first ``n_cells`` vectors by vec_id — a fixed,
    data-independent rule, so building the plan triggers NO job (the
    previous ``count()``-derived stride ran a full extra scan per
    invocation; a k-means-refined centroid *table* is the production
    drop-in). Assignment and probing are broadcast joins; only vectors
    in the nprobe probed cells are scored per query.

    The whole procedure is deterministic and SQL-expressible, so the
    driver gate checks it at full oracle strength (the DuckDB twin
    replicates centroids → argmax assignment → probing → top-k).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cent_emb"),
        F.col("nrm").alias("cent_nrm"),
    )

    def _sim(a, an, b, bn):
        denom = F.col(an) * F.col(bn)
        return F.when(
            denom > F.lit(0.0), dot_product(F.col(a), F.col(b)) / denom
        )

    # assign: argmax cosine over broadcast centroids — one pass over the
    # data; max_by gets map-side partial aggregation, so the exchange
    # carries N rows, not the N×n_cells window-sort expansion.
    assigned = (
        emb.join(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "cell_id",
            _sim("embedding", "nrm", "cent_emb", "cent_nrm").alias("cs"),
        )
        .groupBy("vec_id", "embedding", "nrm")
        .agg(
            F.max_by(
                "cell_id", F.struct(F.col("cs"), -F.col("cell_id"))
            ).alias("cell")
        )
    )
    # probe: each query's nprobe nearest cells
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    w_probe = W.partitionBy("query_id").orderBy(F.desc("qs"), F.asc("cell_id"))
    probes = (
        F.broadcast(q)
        .join(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "cell_id",
            _sim("q_emb", "q_nrm", "cent_emb", "cent_nrm").alias("qs"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "q_nrm", F.col("cell_id").alias("cell"))
    )
    # search only the probed cells
    sim = _sim("q_emb", "q_nrm", "embedding", "nrm")
    w_k = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", F.col("vec_id").alias("cand_id"), sim.alias("sim")
        )
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean) — the k-means
    update step / cluster-profile pass of an embedding pipeline.

    posexplode → groupBy(label, pos): 64·N tiny rows, partial-aggregated
    before one exchange. Float sums are accumulated as DECIMAL(27,10)
    (exact, ORDER-INDEPENDENT — a double sum would differ per partition
    count and per engine) and leave decimal space only for the final
    single division."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
        )
        .select(
            "label",
            "pos",
            "n_vecs",
            F.round(F.col("s").cast("double") / F.col("n_vecs"), 6).alias("centroid_val"),
        )
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization per vector — the storage/ANN-index
    compression pass (4× over float32, 16× over float64).

    Per vector: ``scale = 127 / max(|v_i|)``, ``q_i = floor(v_i·scale
    + 0.5)`` — all array-local higher-order functions, a pure per-row
    map with zero shuffle. Determinism: float→double widening, the
    division, and each multiply are exact IEEE ops both engines
    perform bit-identically on identical inputs, and floor(x+0.5) is
    an explicit half-up that never consults the engine's rounding mode
    (F.round HALF_UP vs DuckDB half-even would diverge). Zero vectors
    quantize to zeros with scale 0.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # scale is materialized as a column in its OWN projection before the
    # quantizing transform references it: expressions inside HOF lambdas
    # get no CSE, so inlining it would re-run array_max per element
    # (the measured 9× shingler pitfall).
    xd = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("xd"),
    )
    mx = F.array_max(F.transform("xd", F.abs))
    scaled = xd.withColumn(
        "scale", F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    )
    return scaled.select(
        "vec_id",
        "label",
        "scale",
        F.transform(
            "xd", lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int")
        ).alias("q"),
    )


def embedding_quantize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate projection of :func:`embedding_quantize`: the int8 array is
    serialized to a CSV string so the driver's value-hasher never sees
    an engine-specific array container type."""
    return embedding_quantize(spark, sf_dir).select(
        "vec_id",
        "label",
        "scale",
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q_csv"),
    )


def srp_planes(
    n_bits: int = 6, n_tables: int = 4, dim: int = 64, seed: int = 7
) -> list[list[list[float]]]:
    """Seeded Gaussian hyperplanes for the SRP-LSH index —
    ``n_tables`` independent tables of ``n_bits`` planes each.

    Plain Python floats generated once at plan-build time and embedded
    as literals in BOTH engines' plans (no data pass, no broadcast) —
    which is what makes the whole LSH procedure deterministic and
    oracle-checkable."""
    import random as _random

    rng = _random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _srp_bucket(vec_sql: str, planes: list[list[float]]) -> "F.Column":
    """Bucket id for one LSH table: bit j = sign of ⟨v, h_j⟩ — one
    nested-HOF expression (see :func:`_srp_fold`)."""
    return _srp_fold(vec_sql, planes)


def srp_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_bits: int = 6,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """SRP-LSH approximate nearest neighbors — the LSH-bucketed scale
    path beside IVF (:func:`ivf_topk`).

    Index: ``n_tables`` signed-random-projection tables of ``n_bits``
    each; a vector lands in one bucket per table (×n_tables row
    registration via one array explode — the inverted index a real
    deployment would persist). Queries multiprobe their own bucket
    plus every Hamming-1 neighbor in EVERY table (OR-amplification ×
    multiprobe — the standard recall levers); candidates are scored
    exactly and deduped across tables with a pair-group max.

    Scale shape: probes are |queries|×n_tables×(n_bits+1) rows —
    broadcast; the candidate side shuffles ONLY bucket-matched rows
    (~n_tables·(n_bits+1)/2^n_bits of the data per query); no window
    over the full relation, no BNLJ. Everything (plane literals, sign
    folds, cosine) is bit-deterministic, so the DuckDB oracle replays
    the whole procedure at full hash strength.
    """
    tabs = srp_planes(n_bits, n_tables, seed=seed)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    base = emb.select(
        "vec_id",
        "embedding",
        "nrm",
        *[_srp_bucket("embedding", tabs[t]).alias(f"b{t}") for t in range(n_tables)],
    )
    tb = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bkt"))
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    cands = base.select("vec_id", "embedding", "nrm", tb).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("tb.t").alias("t"),
        F.col("tb.bkt").alias("bkt"),
    )
    flips = F.explode(F.array(*[F.lit(f) for f in [0] + [1 << j for j in range(n_bits)]]))
    probes = (
        base.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding", "nrm", tb)
        .withColumn("flip", flips)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("tb.t").alias("t"),
            F.col("tb.bkt").bitwiseXOR(F.col("flip")).alias("bkt"),
        )
    )
    denom = F.col("q_nrm") * F.col("c_nrm")
    sim = F.when(
        denom > F.lit(0.0), dot_product(F.col("q_emb"), F.col("c_emb")) / denom
    )
    w_k = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        F.broadcast(probes)
        .join(cands, ["t", "bkt"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", sim.alias("s"))
        # a pair seen in several tables/probes scores identically —
        # max() dedupes without a distinct over float equality
        .groupBy("query_id", "cand_id")
        .agg(F.max("s").alias("sim"))
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


def _sqdist(vec_col, cent_col) -> "F.Column":
    """Σ (x_i − c_i)² as the same left-fold both engines run."""
    return F.aggregate(
        F.zip_with(
            vec_col, cent_col, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_cell(points: DataFrame, cents: DataFrame, keys: list[str]) -> DataFrame:
    """``keys`` + ``cell``: each row of ``points`` (``keys``, ``v``)
    assigned to its nearest centroid of ``cents`` (cell, c) — argmin
    ``_sqdist``, ties to the smaller cell. The k-row centroid table is
    broadcast; ``min_by`` gets map-side partial aggregation, no window."""
    return (
        points.join(F.broadcast(cents))
        .select(*keys, "cell", _sqdist(F.col("v"), F.col("c")).alias("d"))
        .groupBy(*keys)
        .agg(F.min_by("cell", F.struct(F.col("d"), F.col("cell"))).alias("cell"))
    )


def _cell_means(assigned: DataFrame, key: str) -> DataFrame:
    """``(key, n, c)``: member count and exact mean of the ``v`` arrays
    per ``key``. posexplode + DECIMAL(27,10) element sums (order-
    independent — a double sum would differ per partition count), one
    double division, rebuilt into arrays with an explicit ``sort_array``
    on position."""
    return (
        assigned.select(key, F.posexplode("v").alias("pos", "val"))
        .groupBy(key, "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(key, "pos", "n", (F.col("s").cast("double") / F.col("n")).alias("cval"))
        .groupBy(key)
        .agg(
            F.max("n").alias("n"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cval"))),
                lambda st: st["cval"],
            ).alias("c"),
        )
    )


def _lloyd_centroids(emb: DataFrame, k: int, n_iter: int) -> DataFrame:
    """(cell, c) after Lloyd's algorithm on ``emb`` (vec_id, v): seeded
    by the first ``k`` vectors by vec_id, then ``n_iter − 1`` rounds of
    :func:`_nearest_cell` ⇄ :func:`_cell_means`. The round count is
    fixed up front, so the whole loop is one lazy plan with no driver
    action."""
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("c")
    )
    for _ in range(n_iter - 1):
        cents = _cell_means(_nearest_cell(emb, cents, ["vec_id", "v"]), "cell").select(
            "cell", "c"
        )
    return cents


def kmeans_iterations(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 2
) -> DataFrame:
    """Deterministic k-means on the embeddings table — the full
    iterative clustering loop as DataFrame ops. The centroids come from
    the shared Lloyd kernel :func:`_lloyd_centroids` (argmin-distance
    assignment ⇄ exact DECIMAL mean update, init = first ``k`` vectors
    by vec_id, ties to the smaller cell); the final pass assigns every
    vector and also reports its squared distance.

    Every arithmetic step is an identical-order IEEE fold in both
    engines, so the DuckDB oracle replays the full loop and the gate
    hash-matches the final assignment + distance.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents = _lloyd_centroids(emb, k, n_iter)
    return (
        emb.join(F.broadcast(cents))
        .select("vec_id", "cell", _sqdist(F.col("v"), F.col("c")).alias("d"))
        .groupBy("vec_id")
        .agg(
            F.min_by("cell", F.struct(F.col("d"), F.col("cell"))).alias("cell"),
            F.min(F.struct(F.col("d"), F.col("cell"))).alias("_m"),
        )
        .select("vec_id", "cell", F.round(F.col("_m.d"), 6).alias("sq_dist"))
    )


# ---------------------------------------------------------------------------
# Persisted IVF index (round-3): build-once / load-many centroid table.
#
# ``ivf_topk`` keeps its fixed-rule centroids (zero-job plan build, the
# oracle-simple variant); this is the production lifecycle it names:
# k-means-refined centroids WRITTEN as a parquet table, vectors
# pre-assigned to cells in a second parquet table, queries served by
# reading both. At 100 TB the index build is a scheduled job and the
# query path never re-derives centroids — exactly this split.
# ---------------------------------------------------------------------------


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = 16,
    n_iter: int = 2,
    where=None,
) -> None:
    """Build the IVF index at ``index_dir``: Lloyd-refined centroids
    from the shared kernel :func:`_lloyd_centroids` (seeded by the first
    ``n_cells`` vectors, ``n_iter − 1`` exact DECIMAL-mean updates —
    the same centroids as ``kmeans_iterations``) written to
    ``index_dir/centroids`` (cell, c: array<double>), and the full
    vector→cell assignment (:func:`_nearest_cell`) to
    ``index_dir/assignments`` (vec_id, cell).

    Both writes are plain parquet: mergeable into any catalog, readable
    by any engine, refreshable by re-running this function.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    if where is not None:
        # restrict the indexed corpus — the base-vs-delta lifecycle
        # hook used by ivf_index_append_topk (E391)
        emb = emb.filter(where)
    import os

    _lloyd_centroids(emb, n_cells, n_iter).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    cents_t = spark.read.parquet(os.path.join(index_dir, "centroids"))
    _nearest_cell(emb, cents_t, ["vec_id"]).write.mode("overwrite").parquet(
        os.path.join(index_dir, "assignments")
    )


def load_ivf_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) of a persisted IVF index — plain scans."""
    import os

    return (
        spark.read.parquet(os.path.join(index_dir, "centroids")),
        spark.read.parquet(os.path.join(index_dir, "assignments")),
    )


def _ivf_index_dir(
    spark: SparkSession, sf_dir: str, n_cells: int, n_iter: int
) -> str:
    """Build-once IVF index: the registry/bench/check runs share one
    index build per (corpus salt, n_cells, n_iter), same discipline as
    ``dedup.dedup_edges``. Round 6: committed through
    ``layout.claim_artifact`` — the whole two-relation index
    (centroids + assignments) lands in one stage directory and becomes
    visible atomically via the DONE manifest, so a second process
    serves the first build and a crash mid-write can never expose a
    centroids-only index (verdict item 5)."""
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    # content-salted like dedup_edges: rewriting embeddings.parquet
    # mid-process invalidates the cached index; md5 path names are
    # process-stable (Python hash() is salted per process)
    salt = source_salt(sf_dir, "embeddings")

    def _build(stage: str) -> None:
        build_ivf_index(spark, sf_dir, stage, n_cells=n_cells, n_iter=n_iter)

    return claim_artifact(spark, f"ivf_c{n_cells}_i{n_iter}_{salt}", _build)


def ivf_indexed_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iter: int = 2,
    index_dir: str | None = None,
) -> DataFrame:
    """IVF ANN through the PERSISTED index: probe the ``nprobe``
    nearest centroids per query (squared distance — the index's own
    geometry), then rank the probed cells' pre-assigned vectors by
    exact cosine. No centroid derivation in the query plan — both
    index relations are parquet scans, the probe table is broadcast.

    Deterministic end to end, so the DuckDB oracle replays the build
    (seed → one exact-mean Lloyd update) plus the query and the gate
    checks values, not just shapes.
    """
    if index_dir is None:
        index_dir = _ivf_index_dir(spark, sf_dir, n_cells, n_iter)
    cents, assign = load_ivf_index(spark, index_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
    )
    w_probe = W.partitionBy("query_id").orderBy(F.asc("qd"), F.asc("cell"))
    probes = (
        F.broadcast(q)
        .join(F.broadcast(cents))
        .select(
            "query_id", "q_v", "q_nrm", "cell",
            _sqdist(F.col("q_v"), F.col("c")).alias("qd"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_v", "q_nrm", "cell")
    )
    cand = assign.join(emb, "vec_id")
    denom = F.col("q_nrm") * F.col("nrm")
    cos = F.when(
        denom > F.lit(0.0), dot_product(F.col("q_v"), F.col("v")) / denom
    )
    w_k = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        F.broadcast(probes)
        .join(cand, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos.alias("sim"))
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


def ivf_index_staleness(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    n_iter: int = 2,
    index_dir: str | None = None,
) -> DataFrame:
    """Index-freshness report: assign TODAY's vectors to the PERSISTED
    centroids, recompute each cell's mean from those members, and
    report the squared distance between persisted and recomputed
    centroid plus current member count — the number a refresh
    scheduler thresholds on (drift ≈ 0 ⇒ skip rebuild; the per-label
    twin of ``centroid_drift``). Assignment is recomputed rather than
    read from the persisted table so rows added/changed since the
    build are scored too. One data scan through the Lloyd kernel's two
    steps (:func:`_nearest_cell`, then :func:`_cell_means`), broadcast
    of the k-row centroid table.
    """
    if index_dir is None:
        index_dir = _ivf_index_dir(spark, sf_dir, n_cells, n_iter)
    cents, _ = load_ivf_index(spark, index_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    fresh = _cell_means(_nearest_cell(emb, cents, ["vec_id", "v"]), "cell").select(
        "cell", F.col("n").alias("n_members"), F.col("c").alias("fresh_c")
    )
    return (
        fresh.join(F.broadcast(cents), "cell")
        .select(
            "cell",
            "n_members",
            F.round(_sqdist(F.col("fresh_c"), F.col("c")), 6).alias("drift_sqdist"),
        )
        .orderBy("cell")
    )


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification + confusion matrix — the
    eval-loop pass of an embedding pipeline (does the label structure
    separate in embedding space?).

    Train = vectors with vec_id % 5 != 0 (deterministic holdout);
    per-label centroids via the DECIMAL-exact element mean
    (:func:`_cell_means`, E30), then every holdout vector is assigned
    to its nearest centroid (:func:`_nearest_cell`) and the
    confusion matrix is one tiny grouped count. One training pass, one
    scoring pass, zero windows.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    train = emb.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0)
    cents = _cell_means(train, "label").select(F.col("label").alias("cell"), "c")
    return (
        _nearest_cell(test, cents, ["vec_id", "label"])
        .groupBy(F.col("label").alias("true_label"), F.col("cell").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def hybrid_rrf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    depth: int = 20,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a sparse (BM25) and
    a dense (cosine) ranked list per query — the standard two-tower
    retrieval stack (Cormack et al. RRF), with documents doubling as
    queries (query i = tokens of doc i on the sparse side, embedding i
    on the dense side).

    Scale shape: the sparse side reuses the (doc, term, tf) relation
    (one corpus scan + one exchange, same as tf-idf) semi-joined to the
    bounded broadcast query-term set; the dense side is the bounded
    broadcast query block of ``cosine_topk``. Fusion ranks are
    integers, and the RRF score is exact integer micro-units
    (1e6 div (rrf_k + rank)) — no float anywhere in the fusion, so
    ties and order are engine/partitioning-exact. Absent-from-one-list
    ranks surface as 0 (never NULL) to keep the driver's value hash
    type-stable.
    """
    from parquet_to_csv_spark.functions.textfn import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), "toks")
    corpus = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
    )
    qterms = (
        stats.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct("toks")).alias("term"),
        )
    )
    tf = (
        stats.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfq = tf.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    df_ = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    norm = (
        F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl")))
    )
    contrib = (
        tfq.join(F.broadcast(df_), "term")
        .join(F.broadcast(corpus))
        .join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            (F.round(idf * norm * 1e6)).cast("long").alias("u"),
        )
    )
    s_score = contrib.groupBy("query_id", "doc_id").agg(F.sum("u").alias("s_score"))
    ws = W.partitionBy("query_id").orderBy(F.desc("s_score"), F.asc("doc_id"))
    sparse = (
        s_score.withColumn("s_rnk", F.row_number().over(ws))
        .filter(F.col("s_rnk") <= depth)
        .select("query_id", "doc_id", "s_rnk")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    denom = F.col("q_nrm") * F.col("c_nrm")
    sim = F.when(
        denom > F.lit(0.0), dot_product(F.col("q_emb"), F.col("c_emb")) / denom
    )
    wd = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    dense = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id", sim.alias("sim"))
        .withColumn("d_rnk", F.row_number().over(wd))
        .filter(F.col("d_rnk") <= depth)
        .select("query_id", "doc_id", "d_rnk")
    )

    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce("s_rnk", F.lit(0)).cast("int").alias("s_rnk"),
        F.coalesce("d_rnk", F.lit(0)).cast("int").alias("d_rnk"),
        (
            F.coalesce(
                F.expr(f"cast(1000000 as bigint) div ({rrf_k} + s_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"cast(1000000 as bigint) div ({rrf_k} + d_rnk)"), F.lit(0)
            )
        ).cast("long").alias("rrf_micro"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= k)
    )


def negative_pairs(
    spark: SparkSession, sf_dir: str, n_negatives: int = 4
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor vector, pick ``n_negatives`` pseudo-random
    different-label vectors — WITHOUT randomness (reproducible across
    engines, runs and partitionings) and WITHOUT a cartesian product.

    Mechanism: candidates land in 256 md5 buckets once; each (anchor,
    j) draw hashes to a target bucket and equi-joins it (≈ N/256
    candidates), keeping the min candidate id with a different label.
    One hash join + one partial-agg groupBy — shuffle ∝ N ·
    n_negatives, never N². A draw whose bucket holds only same-label
    candidates yields no row (deterministic; acceptable sparsity loss
    at n/256 ≫ 1).
    """
    from parquet_to_csv_spark.operators.sketch import _md5_slice_bucket

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cand = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        _md5_slice_bucket(F.col("vec_id"), 5, 256).alias("bucket"),
    )
    draws = emb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.explode(F.sequence(F.lit(1), F.lit(n_negatives))).alias("j"),
    ).withColumn(
        "bucket",
        _md5_slice_bucket(F.col("anchor_id") * 8 + F.col("j"), 1, 256),
    )
    return (
        draws.join(cand, "bucket")
        .filter(
            (F.col("neg_label") != F.col("anchor_label"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
        .groupBy("anchor_id", "anchor_label", "j")
        .agg(
            F.min("neg_id").alias("neg_id"),
            F.min_by("neg_label", "neg_id").alias("neg_label"),
        )
    )


def ndcg_label_match(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """NDCG@k of the exact cosine retriever against label-match
    relevance — the standard graded ranking-eval metric, computed as
    pure relational algebra (no sklearn, no collect).

    Composes the gate-verified :func:`cosine_topk` ranking (total
    order: sim desc, cand_id) with binary relevance rel = (candidate
    label == query label). Discounts are integer micro-units
    ``d(i) = round(1e6 / log2(i+1))`` — irrational except at
    i ∈ {1,3} where the value is exactly 1e6 / 5e5 (far from any .5
    boundary), so the ≤1-ulp cross-engine log2 difference cannot flip
    the rounding. DCG is then an exact long sum; the ideal DCG
    prefix-sums the same discounts over ``min(k, n_label - 1)`` slots
    via an array-local ``aggregate`` (no extra scan); NDCG is one
    integer-ppm division.

    Scale: rides cosine_topk's broadcast-bounded query contract; the
    label-count dim is a tiny broadcast.
    """
    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k)
    emb = load_table(spark, sf_dir, "embeddings")
    q_lab = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    c_lab = emb.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label"))
    lab_n = F.broadcast(emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_label")))
    d_units = F.expr("cast(round(1e6 / log2(rnk + 1), 0) as long)")
    per_q = (
        ranked.join(F.broadcast(q_lab), "query_id")
        .join(c_lab, "cand_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.sum(
                F.when(F.col("q_label") == F.col("c_label"), d_units).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dcg_units"),
            F.sum(
                F.when(F.col("q_label") == F.col("c_label"), 1).otherwise(0)
            ).alias("n_rel_at_k"),
        )
    )
    r = F.least(F.lit(k), F.col("n_label") - 1)
    idcg = F.expr(
        "aggregate(sequence(1, r_slots), 0L,"
        " (acc, i) -> acc + cast(round(1e6 / log2(i + 1), 0) as long))"
    )
    return (
        per_q.join(lab_n, per_q.q_label == lab_n.label)
        .withColumn("r_slots", r)
        .withColumn("idcg_units", F.when(F.col("r_slots") >= 1, idcg))
        .select(
            "query_id",
            "n_rel_at_k",
            "dcg_units",
            F.when(
                F.col("idcg_units") > 0,
                F.expr("dcg_units * 1000000 div idcg_units"),
            ).alias("ndcg_ppm"),
        )
    )


def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (n, mean, min,
    max) — the feature-health pass that catches dead dimensions,
    scale drift, and clipped values before they poison an ANN index
    or a training run.

    posexplode → one (pos)-keyed exchange with map-side partial agg.
    Float sums accumulate as DECIMAL(27,10) — exact and
    order-independent where a double sum would differ per partition
    count and per engine (label_centroids convention); min/max are
    order-independent by definition. One rounded double division at
    the end.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "val"))
    return (
        ex.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
            F.min(F.col("val").cast("double")).alias("min_val"),
            F.max(F.col("val").cast("double")).alias("max_val"),
        )
        .select(
            "pos",
            "n_vecs",
            F.round(F.col("s").cast("double") / F.col("n_vecs"), 6).alias("mean_val"),
            "min_val",
            "max_val",
        )
    )


def embedding_outlier_scores(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Label-noise detection: the top-``k`` vectors per label FARTHEST
    from their label centroid — the standard mislabeled-example sweep
    run before embeddings (or their labels) train anything.

    Centroids reuse the DECIMAL-exact element-mean convention
    (label_centroids); each vector's squared distance is then summed
    in exact integer 1e-6-unit squares: ``d_i = round((v_i − μ_i)·1e6)``
    per dimension (identical doubles → identical rounds in both
    engines), ``Σ d_i²`` an error-free long — so the ranking never
    depends on float summation order. One posexplode join on
    (label, pos) — N×dim narrow rows, the same shape the centroid
    build already pays — and a per-label windowed top-k.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n_vecs"), 6).alias("mu"),
        )
    )
    d_units = F.round(
        (F.col("val").cast("double") - F.col("mu")) * F.lit(1e6), 0
    ).cast("long")
    dist = (
        ex.join(cent, ["label", "pos"])
        .select("vec_id", "label", (d_units * d_units).alias("dsq"))
        .groupBy("vec_id", "label")
        .agg(F.sum("dsq").alias("dist_sq_e12"))
    )
    w = W.partitionBy("label").orderBy(F.desc("dist_sq_e12"), F.asc("vec_id"))
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("label", "vec_id", "dist_sq_e12", "rnk")
    )


def cluster_topic_terms(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    k: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Semantic-cluster topic labeling: assign every embedding to its
    nearest centroid cell (same fixed data-independent centroid rule as
    :func:`ivf_topk` — no job at plan time), join the aligned
    ``documents`` rows (vec_id ≡ doc_id in the fixture corpus, the
    usual contract for document embeddings), and surface each
    cluster's DISTINCTIVE terms by presence lift — what a corpus
    explorer prints next to every embedding cluster.

    Lift is exact integer ppm: ``(a/n_cell) / (n_t/N)`` cross-
    multiplied to ``a·N·10⁶ div (n_cell·n_t)`` — no float ratio ever
    materializes. The assignment is one broadcast join + ``max_by``
    partial aggregation (N rows exchanged, no window sort); the term
    stats are two keyed aggregations over the distinct (doc, term)
    presence relation, joined on doc_id and term (both high-cardinality
    keys). Top-k per cell via one windowed rank over cells — bounded
    output.
    """
    from parquet_to_csv_spark.functions.textfn import tokens_col

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cent_emb"),
        F.col("nrm").alias("cent_nrm"),
    )
    cs = F.when(
        (F.col("nrm") * F.col("cent_nrm")) > F.lit(0.0),
        dot_product(F.col("embedding"), F.col("cent_emb"))
        / (F.col("nrm") * F.col("cent_nrm")),
    )
    assigned = (
        emb.join(F.broadcast(cents))
        .select("vec_id", "cell_id", cs.alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cell_id", F.struct(F.col("cs"), -F.col("cell_id"))).alias("cell")
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("term")
    )
    n_total = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_total")))
    cell_sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_cell"))
    term_totals = pres.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    cell_terms = (
        pres.join(assigned, pres.doc_id == assigned.vec_id)
        .groupBy("cell", "term")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    w = W.partitionBy("cell").orderBy(F.desc("lift_ppm"), F.asc("term"))
    return (
        cell_terms.join(term_totals, "term")
        .join(F.broadcast(cell_sizes), "cell")
        .join(n_total)
        .filter(F.col("a") >= min_docs)
        .withColumn("lift_ppm", F.expr("a * n_total * 1000000 div (n_cell * n_t)"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("cell", "term", F.col("a").alias("n_docs_in"), "lift_ppm", "rnk")
    )


def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (whitening-lite) of the embedding
    table — the preprocessing rewrite ANN/clustering pipelines run so
    no dimension dominates the metric. Emits, per vector, the count of
    |z| ≥ 3 outlier dimensions and an md5 fingerprint of the quantized
    z-vector, so the gate verifies the EXACT transformed values, not
    just shapes.

    Statistics: per-dim mean via the DECIMAL-exact sum convention
    (label_centroids), rounded to 1e-6; per-dim variance from the
    DECIMAL sum of squares via one fixed IEEE pipeline
    (``(ssq − n·μ²)/n``, both engines same parenthesization) — no
    float accumulation anywhere. z quantizes to integer milli BEFORE
    any aggregation (``floor((v−μ)/σ·1000)``), making the outlier
    count and the position-ordered fingerprint engine-exact.

    Plan: one posexplode (N×dim narrow rows) feeding both the stats
    build (dim-keyed aggregate, ~dim rows, broadcast back) and the
    rewrite; one groupBy(vec_id) folds the z-vector in position order.
    Constant-variance dims are dropped from the fingerprint (σ = 0 has
    no z-score) — surfaced in the n_dims column instead of crashing.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    stats = (
        ex.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(18,8)")).alias("s"),
            F.sum(
                (F.col("val").cast("decimal(18,8)") * F.col("val").cast("decimal(18,8)"))
            ).alias("ssq"),
        )
        .select(
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mu"),
            F.expr(
                "sqrt((CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE)"
                " / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
                " / CAST(n AS DOUBLE))"
            ).alias("sd"),
        )
    )
    z_milli = F.expr(
        "CAST(floor((CAST(val AS DOUBLE) - mu) / sd * 1000.0) AS BIGINT)"
    )
    scored = (
        ex.join(F.broadcast(stats), "pos")
        .filter(F.col("sd") > 0)
        .select("vec_id", "pos", z_milli.alias("z"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(
                F.when((F.col("z") >= 3000) | (F.col("z") < -3000), 1).otherwise(0)
            ).alias("n_outlier_dims"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "z"))),
                        lambda x: x["z"].cast("string"),
                    ),
                )
            ).alias("z_fp"),
        )
    )


def product_quantization(
    spark: SparkSession, sf_dir: str, n_sub: int = 8, n_cents: int = 16
) -> DataFrame:
    """Product-quantization codes for the embedding table — the
    compression layer under every billion-vector ANN index (FAISS PQ):
    the 64-dim vector splits into ``n_sub`` subvectors, each encoded
    as its nearest subspace centroid id, storing 8 bytes instead of
    256. Emits per vector the code word and the EXACT reconstruction
    error, so the gate verifies the full encode path and its loss.

    Centroids reuse the fixed first-``n_cents``-by-vec_id rule
    (ivf_topk — data-independent, no job at plan time). Subvector
    slicing is array-local; assignment is one broadcast join +
    ``min_by`` partial aggregation per (vector, subspace) — N·n_sub
    rows exchanged, no window sort. Distances are the proven
    zip_with/aggregate double expression; reconstruction error sums
    exact integer 1e-6-unit squares (outlier-sweep convention), so
    ordering and error are engine-exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_sub - 1}),"
                f" s -> slice(embedding, s * 8 + 1, 8))"
            )
        ).alias("sub", "subvec"),
    )
    cents = (
        emb.filter(F.col("vec_id") < n_cents)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {n_sub - 1}),"
                    f" s -> slice(embedding, s * 8 + 1, 8))"
                )
            ).alias("sub", "cent_sub"),
        )
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("subvec"),
            F.col("cent_sub"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    assigned = (
        subs.join(F.broadcast(cents), "sub")
        .select("vec_id", "sub", "subvec", "cent_id", "cent_sub", dist.alias("dist"))
        .groupBy("vec_id", "sub", "subvec")
        .agg(
            F.min_by(
                F.struct(
                    F.col("cent_id"), F.col("cent_sub")
                ),
                F.struct(F.col("dist"), F.col("cent_id")),
            ).alias("best")
        )
        .select(
            "vec_id",
            "sub",
            "subvec",
            F.col("best.cent_id").alias("code"),
            F.col("best.cent_sub").alias("cent_sub"),
        )
    )
    err_units = F.aggregate(
        F.zip_with(
            F.col("subvec"),
            F.col("cent_sub"),
            lambda x, y: F.round((x.cast("double") - y.cast("double")) * F.lit(1e6), 0).cast("long")
            * F.round((x.cast("double") - y.cast("double")) * F.lit(1e6), 0).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        assigned.select("vec_id", "sub", "code", err_units.alias("err"))
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
            ).alias("code_word"),
            F.sum("err").alias("recon_err_e12"),
        )
    )


def ann_recall_report(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """ANN quality as a FIRST-CLASS query: per query, the overlap of
    IVF's top-k with the exact top-k and the recall in exact ppm —
    the continuous-monitoring twin of the one-off recall pytest, so an
    index/data change that degrades recall fails the gate, not just a
    unit test.

    Pure composition of two verified operators (same query set), one
    equi-join on (query, candidate), exact integer recall.
    """
    exact = cosine_topk(spark, sf_dir, k=k).select(
        "query_id", F.col("cand_id").alias("e_cand")
    )
    approx = ivf_topk(spark, sf_dir, k=k).select(
        "query_id", F.col("cand_id").alias("a_cand")
    )
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id) & (F.col("e_cand") == F.col("a_cand")),
        )
        .groupBy(exact.query_id)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.expr("coalesce(n_common, 0) * 1000000 div n_exact").alias("recall_ppm"),
        )
    )


def truncation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: how much does cosine similarity
    move when embeddings are cut to their first 8/16/32 dimensions? —
    the measurement behind every "can we serve the 16-dim prefix?"
    index-compression decision (MRL-style embeddings make prefixes
    usable; this op quantifies the loss on YOUR corpus).

    Over the bounded query set × all candidates (the cosine_topk
    contract), each prefix length L gets the same fixed zip_with/
    aggregate cosine on sliced arrays; the per-pair |Δcos| quantizes
    to integer micro BEFORE aggregation, so the per-L mean/max are
    exact long arithmetic. One broadcast pair relation evaluated at 4
    prefix lengths — no extra shuffles per L.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("cand_id"))

    def cos_at(length: int):
        qa = F.slice(F.col("q_emb"), 1, length)
        ca = F.slice(F.col("c_emb"), 1, length)
        num = dot_product(qa, ca)
        den = l2_norm(qa) * l2_norm(ca)
        return F.when(den > F.lit(0.0), num / den)

    full = cos_at(64)
    rows = []
    scored = pairs.select(
        "query_id",
        "cand_id",
        *[
            F.round(F.abs(cos_at(L) - full) * F.lit(1e6), 0)
            .cast("long")
            .alias(f"d{L}")
            for L in (8, 16, 32)
        ],
    )
    for L in (8, 16, 32):
        rows.append(
            scored.filter(F.col(f"d{L}").isNotNull()).agg(
                F.lit(L).alias("prefix_dims"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.expr(f"sum(d{L}) div count(1)").alias("mean_absdelta_micro"),
                F.max(f"d{L}").alias("max_absdelta_micro"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def source_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic distance matrix between SOURCES: L2 distance between
    per-source embedding centroids — the drift/redundancy map that
    says which ingest sources cover the same semantic region (merge
    candidates) and which are outliers (review before mixing).

    Joins embeddings to documents on the aligned id (vec_id ≡ doc_id)
    to get each vector's source; centroids use the DECIMAL-exact
    element-mean convention; the pairwise distances run over the
    SOURCE-grain relation (|sources|² × dim — dims, not data), with
    squared distances summed in exact integer 1e-6-unit squares
    (outlier-sweep convention) so the matrix is engine-exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    ex = emb.join(docs, "vec_id").select(
        "source", F.posexplode("embedding").alias("pos", "val")
    )
    cent = (
        ex.groupBy("source", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
        )
        .select(
            "source",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mu"),
        )
    )
    a = cent.select(
        F.col("source").alias("source_a"), "pos", F.col("mu").alias("mu_a")
    )
    b = cent.select(
        F.col("source").alias("source_b"), "pos", F.col("mu").alias("mu_b")
    )
    d_units = F.round((F.col("mu_a") - F.col("mu_b")) * F.lit(1e6), 0).cast("long")
    return (
        a.join(b, "pos")
        .filter(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", (d_units * d_units).alias("dsq"))
        .groupBy("source_a", "source_b")
        .agg(F.sum("dsq").alias("dist_sq_e12"))
    )


def cluster_quality_index(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> DataFrame:
    """Cluster-quality (silhouette-lite) report per centroid cell:
    mean distance of members to their OWN centroid (cohesion) vs to
    the NEAREST OTHER centroid (separation), and their ratio — the
    Davies-Bouldin-style health check run after any clustering /
    IVF build to find cells that should be split or merged.

    Assignment reuses the fixed-centroid broadcast + max_by shape; the
    two distances come from ONE pass over members × centroids (same
    broadcast relation — per member the own-cell distance and the min
    other-cell distance fold in a single groupBy). Distances are exact
    integer 1e-6-unit squares; means are floored integer division; the
    ratio is cross-multiplied ppm — no float aggregation anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cent_emb"),
        F.col("nrm").alias("cent_nrm"),
    )
    cs = F.when(
        (F.col("nrm") * F.col("cent_nrm")) > F.lit(0.0),
        dot_product(F.col("embedding"), F.col("cent_emb"))
        / (F.col("nrm") * F.col("cent_nrm")),
    )
    dsq = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cent_emb"),
            lambda x, y: F.round((x.cast("double") - y.cast("double")) * F.lit(1e6), 0).cast("long")
            * F.round((x.cast("double") - y.cast("double")) * F.lit(1e6), 0).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = emb.join(F.broadcast(cents)).select(
        "vec_id", "cell_id", cs.alias("cs"), dsq.alias("dsq")
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max_by("cell_id", F.struct(F.col("cs"), -F.col("cell_id"))).alias("cell")
    )
    per_member = (
        scored.join(assigned, "vec_id")
        .groupBy("vec_id", "cell")
        .agg(
            F.max(F.when(F.col("cell_id") == F.col("cell"), F.col("dsq"))).alias(
                "own_dsq"
            ),
            F.min(F.when(F.col("cell_id") != F.col("cell"), F.col("dsq"))).alias(
                "other_dsq"
            ),
        )
    )
    return (
        per_member.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("sum(own_dsq) div count(1)").alias("mean_own_dsq_e12"),
            F.expr("sum(other_dsq) div count(1)").alias("mean_other_dsq_e12"),
        )
        .withColumn(
            "separation_ppm",
            F.expr("mean_own_dsq_e12 * 1000000 div mean_other_dsq_e12"),
        )
    )


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene audit: the L2-norm distribution in milli-unit
    bands, plus zero-vector and near-zero counts — the first check on
    any ingested embedding table (an unnormalized or half-zeroed batch
    silently poisons every cosine downstream; norms make it visible
    in one scan).

    The norm is the fixed zip_with/aggregate double; BANDING it
    (floor to 0.1-wide bands) absorbs the last-ulp cross-engine sqrt
    wiggle everywhere except exact band boundaries, which the fixture
    norms (irrational square roots) never hit. One scan, one
    domain-bounded groupBy.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = l2_norm(F.col("embedding"))
    banded = emb.select(
        F.expr(
            f"CAST(floor({'sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))'} * 10.0) AS BIGINT)"
        ).alias("norm_band"),
        (nrm == 0.0).cast("long").alias("is_zero"),
    )
    total = F.broadcast(banded.agg(F.count(F.lit(1)).alias("n_total")))
    return (
        banded.groupBy("norm_band")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("is_zero").alias("n_zero"),
        )
        .join(total)
        .withColumn("share_ppm", F.expr("n_vectors * 1000000 div n_total"))
        .drop("n_total")
    )


def embedding_dim_correlation(
    spark: SparkSession, sf_dir: str, n_dims: int = 16
) -> DataFrame:
    """EXT E214: Pearson correlation matrix of the first ``n_dims``
    embedding dimensions — the redundancy audit before dimensionality
    reduction / Matryoshka truncation (highly correlated dims ⇒ the
    vector wastes capacity; near-diagonal ⇒ truncation is safe).

    Spark-first shape: ALL d·(d+3)/2 sufficient statistics (per-dim
    sum + sum-of-squares, per-pair cross product) are computed in ONE
    global aggregate over one scan — pure map-side partial aggregation,
    a single 1-row reduce, then a ``stack`` unpivot to (d1, d2, corr)
    rows. No explode (which would shuffle N·d² rows), no self-join.

    Determinism: components quantize to exact 1e-4-grid longs per row
    (|x| < 1 ⇒ q ≤ 1e4, products ≤ 1e8 — long sums exact to ~1e10
    rows; widen to decimal past that), so every sufficient statistic
    is an exact long; each correlation is one fixed IEEE pipeline over
    those longs (identical expression text in the oracle), floored to
    micro-units.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        F.expr(f"CAST(round(CAST(embedding[{i}] AS DOUBLE) * 10000) AS BIGINT)").alias(
            f"q{i}"
        )
        for i in range(n_dims)
    ]
    base = emb.select(*q)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(n_dims):
        aggs.append(F.sum(F.col(f"q{i}")).alias(f"s{i}"))
        aggs.append(F.sum(F.col(f"q{i}") * F.col(f"q{i}")).alias(f"s{i}_{i}"))
    for i in range(n_dims):
        for j in range(i + 1, n_dims):
            aggs.append(F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"s{i}_{j}"))
    stats = base.agg(*aggs)
    pair_exprs = []
    for i in range(n_dims):
        for j in range(i + 1, n_dims):
            num = (
                f"(CAST(n AS DOUBLE) * CAST(s{i}_{j} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE))"
            )
            den = (
                f"sqrt((CAST(n AS DOUBLE) * CAST(s{i}_{i} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(s{j}_{j} AS DOUBLE)"
                f" - CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE)))"
            )
            pair_exprs.append(
                f"{i}L, {j}L, CAST(floor({num} / {den} * 1000000.0) AS BIGINT)"
            )
    n_pairs = len(pair_exprs)
    stacked = ", ".join(pair_exprs)
    return stats.selectExpr(
        f"stack({n_pairs}, {stacked}) AS (d1, d2, corr_micro)"
    )


def mrr_label_match(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """EXT E215: Mean-reciprocal-rank inputs for the cosine retriever
    against label-match relevance — the first-hit sibling of
    NDCG (E?); per query: the rank of the first same-label candidate
    in the top-k and its reciprocal rank in exact micro-units
    (``1e6 div rank`` — pure integer division, nothing to flip).

    Rides the gate-verified :func:`cosine_topk` ranking and two tiny
    broadcast label lookups — no new shuffle beyond the ranking's own.
    """
    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k)
    emb = load_table(spark, sf_dir, "embeddings")
    q_lab = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    c_lab = emb.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label"))
    return (
        ranked.join(F.broadcast(q_lab), "query_id")
        .join(c_lab, "cand_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.min(
                F.when(F.col("q_label") == F.col("c_label"), F.col("rnk"))
            ).alias("first_rel_rank")
        )
        .select(
            "query_id",
            "q_label",
            "first_rel_rank",
            F.coalesce(
                F.expr("1000000 div first_rel_rank"), F.lit(0)
            ).alias("rr_micro"),
        )
    )


def ivf_nprobe_sweep(
    spark: SparkSession, sf_dir: str, k: int = 5, probes: tuple = (1, 2, 4)
) -> DataFrame:
    """EXT E216: IVF recall-vs-cost curve — recall@k against the exact
    retriever at nprobe ∈ {1, 2, 4}, the tuning table every ANN
    deployment produces before fixing its index parameters (FAISS's
    nprobe sweep, as one gate-checked relational query).

    Each probe level reuses the verified :func:`ivf_topk` plan; the
    exact baseline is computed ONCE and joined against each level.
    Rows: (nprobe, n_hits, n_expected, recall_ppm) — recall must be
    non-decreasing in nprobe by construction (supersets of cells), so
    the oracle double-checks the monotonicity the unit test asserts.

    Scale: the sweep multiplies query-side cost only (bounded query
    contract); the candidate scan is shared per level and pruned to
    nprobe/n_cells of the table — the whole point of the curve.
    """
    exact = cosine_topk(spark, sf_dir, k=k).select(
        "query_id", F.col("cand_id").alias("e_cand")
    )
    levels = []
    for np_ in probes:
        approx = ivf_topk(spark, sf_dir, k=k, nprobe=np_).select(
            "query_id", F.col("cand_id").alias("a_cand")
        )
        hits = exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (F.col("e_cand") == F.col("a_cand")),
            "left",
        ).agg(
            F.lit(np_).cast("long").alias("nprobe"),
            F.sum(F.col("a_cand").isNotNull().cast("long")).alias("n_hits"),
            F.count(F.lit(1)).alias("n_expected"),
        )
        levels.append(hits)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out.select(
        "nprobe",
        "n_hits",
        "n_expected",
        F.expr("n_hits * 1000000 div n_expected").alias("recall_ppm"),
    )


def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E227: mutual-nearest-neighbor pairs — within each label
    block, split vectors into two "sources" by vec_id parity and emit
    the (even, odd) pairs that are EACH OTHER's nearest cross-source
    neighbor. This is the margin-free core of bitext/parallel-corpus
    mining (LASER/CCMatrix): mutuality is the cheap high-precision
    filter that kills the hubness false positives a one-directional
    top-1 match keeps.

    Plan: cosine scoring within (label × parity-cross) blocks — the
    same bounded-block quadratic contract as embedding_neardup_pairs
    (at 100 TB the block key is an IVF cell / LSH bucket; SRP
    sub-bucketing caps hot blocks, per E3). Each direction's argmax is
    a ``max_by`` over the struct (sim, −id) — map-side-combining
    aggregates, no window sort; mutuality is one equi-join of the two
    tiny argmax relations.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), "label"
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), "label"
    )
    sim = (
        dot_product(F.col("a_emb"), F.col("b_emb"))
        / (l2_norm(F.col("a_emb")) * l2_norm(F.col("b_emb")))
    ).alias("sim")
    scored = a.join(b, "label").select("label", "a_id", "b_id", sim)
    # argmax via max_by on (sim, -id): deterministic tie-break to the
    # SMALLEST partner id, partial-aggregatable (no per-key sort).
    nn_ab = scored.groupBy("a_id").agg(
        F.expr("max_by(b_id, struct(sim, -b_id))").alias("nn_b"),
        F.max("sim").alias("sim_ab"),
    )
    nn_ba = scored.groupBy("b_id").agg(
        F.expr("max_by(a_id, struct(sim, -a_id))").alias("nn_a"),
    )
    return (
        nn_ab.join(
            nn_ba,
            (nn_ab.nn_b == nn_ba.b_id) & (nn_ba.nn_a == nn_ab.a_id),
        )
        .select(
            "a_id",
            "b_id",
            F.round("sim_ab", 6).alias("cosine"),
        )
    )


def retrieval_diversity_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """EXT E249: result-set diversity audit — per query over the
    verified cosine top-k: the mean pairwise candidate↔candidate
    cosine (redundancy: high means the result list repeats itself) and
    the count of distinct labels retrieved (coverage). The two numbers
    an MMR-style re-ranker is tuned against; reading them FIRST tells
    you whether diversity re-ranking would change anything.

    Rides cosine_topk's ranking; the candidate-pair scoring is k²
    per query over the BOUNDED query set (the E3 broadcast contract).
    Pairwise cosines are the same bit-deterministic array expression,
    rounded per pair at 6dp, then an exact floored mean in micro
    units.
    """
    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k)
    emb = load_table(spark, sf_dir, "embeddings")
    with_vec = ranked.join(
        emb.select(F.col("vec_id").alias("cand_id"), "embedding", "label"),
        "cand_id",
    ).select("query_id", "cand_id", "embedding", "label")
    a = with_vec.select(
        F.col("query_id").alias("q"),
        F.col("cand_id").alias("ca"),
        F.col("embedding").alias("ea"),
    )
    b = with_vec.select(
        F.col("query_id").alias("q"),
        F.col("cand_id").alias("cb"),
        F.col("embedding").alias("eb"),
    )
    sim = F.round(
        dot_product(F.col("ea"), F.col("eb"))
        / (l2_norm(F.col("ea")) * l2_norm(F.col("eb"))),
        6,
    )
    pair_units = F.expr("CAST(round(pair_sim * 1000000) AS BIGINT)")
    pairs = (
        a.join(b, (a.q == b.q) & (F.col("ca") < F.col("cb")))
        .select(a["q"].alias("query_id"), sim.alias("pair_sim"))
        .select("query_id", pair_units.alias("u"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(u) div count(1)").alias("mean_pair_cosine_micro"),
        )
    )
    labels = with_vec.groupBy("query_id").agg(
        F.countDistinct("label").alias("n_labels"),
        F.count(F.lit(1)).alias("k_returned"),
    )
    return labels.join(pairs, "query_id").select(
        "query_id", "k_returned", "n_labels", "n_pairs", "mean_pair_cosine_micro"
    )


def mmr_rerank(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """EXT E250: Maximal-Marginal-Relevance re-ranking of the verified
    cosine top-k — greedy selection maximizing
    ``λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)`` with λ=0.7: the
    standard diversity re-ranker (Carbonell & Goldstein) that the E249
    redundancy audit motivates. Output: each candidate with its
    original rank and its MMR rank.

    The greedy recurrence is sequential in k but k is small and the
    query set bounded, so it runs in ``applyInPandas`` per query over
    a PRECOMPUTED k² pair-similarity relation (the expensive part is
    relational and shuffles once; Python only performs the k-step
    argmax loop). Determinism: query and pair sims are 6dp-rounded
    then integer micro-units; the greedy score ``7·simq − 3·maxpair``
    stays in exact integer deci-micro units with (score, cand_id)
    tie-break; the oracle replays the same greedy as k unrolled SQL
    steps.
    """
    import pandas as pd

    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k).select(
        "query_id",
        "cand_id",
        F.expr("CAST(round(cosine * 1000000) AS BIGINT)").alias("simq_u"),
        "rnk",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    wv = ranked.join(
        emb.select(F.col("vec_id").alias("cand_id"), "embedding"), "cand_id"
    )
    a = wv.select(
        F.col("query_id").alias("q"),
        F.col("cand_id").alias("ca"),
        F.col("simq_u").alias("sa"),
        F.col("rnk").alias("ra"),
        F.col("embedding").alias("ea"),
    )
    b = wv.select(
        F.col("query_id").alias("q"),
        F.col("cand_id").alias("cb"),
        F.col("embedding").alias("eb"),
    )
    pair_u = F.expr("CAST(round(round(raw_sim, 6) * 1000000) AS BIGINT)")
    pairs = (
        a.join(b, (a.q == b.q) & (a.ca != b.cb))
        .select(
            a["q"].alias("query_id"),
            "ca",
            "sa",
            "ra",
            "cb",
            (
                dot_product(F.col("ea"), F.col("eb"))
                / (
                    l2_norm(F.col("ea"))
                    * l2_norm(F.col("eb"))
                )
            ).alias("raw_sim"),
        )
        .select("query_id", "ca", "sa", "ra", "cb", pair_u.alias("pu"))
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        simq = {}
        orig = {}
        psim: dict = {}
        for r in pdf.itertuples(index=False):
            simq[int(r.ca)] = int(r.sa)
            orig[int(r.ca)] = int(r.ra)
            psim[(int(r.ca), int(r.cb))] = int(r.pu)
        remaining = set(simq)
        selected: list = []
        out = []
        while remaining:
            if not selected:
                scores = {c: 7 * simq[c] for c in remaining}
            else:
                scores = {
                    c: 7 * simq[c] - 3 * max(psim[(c, s)] for s in selected)
                    for c in remaining
                }
            best = min(remaining, key=lambda c: (-scores[c], c))
            selected.append(best)
            out.append((qid, best, orig[best], len(selected)))
            remaining.discard(best)
        return pd.DataFrame(
            out, columns=["query_id", "cand_id", "orig_rank", "mmr_rank"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, cand_id long, orig_rank long, mmr_rank long"
    )


def quantization_recall_sweep(
    spark: SparkSession, sf_dir: str, bits: tuple = (8, 4, 2), k: int = 5
) -> DataFrame:
    """EXT E268: quantization-depth recall curve — recall@k of
    scalar-quantized cosine retrieval vs the float baseline at int8 /
    int4 / int2, the storage-vs-quality tuning table (the bit-depth
    sibling of the nprobe sweep E216): 4 bits at ~99% recall means the
    index can shrink 8× before quality moves.

    Per depth b: per-vector scale (2^(b−1)−1)/max|v| and half-up
    integer codes (the E? embedding_quantize convention); quantized
    dot products and norms are EXACT long arithmetic over the codes,
    so the quantized ranking is deterministic (ties → cand_id); the
    baseline is the verified float top-k. All levels share one
    baseline; query set bounded (the E3 broadcast contract).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(spark, sf_dir, k=k).select(
        "query_id", F.col("cand_id").alias("e_cand")
    )
    xd = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("xd")
    )
    mx = F.array_max(F.transform("xd", F.abs))
    levels = []
    for b in bits:
        qmax = float(2 ** (b - 1) - 1)
        scaled = xd.withColumn(
            "scale", F.when(mx > 0, F.lit(qmax) / mx).otherwise(F.lit(0.0))
        )
        qd = scaled.select(
            "vec_id",
            F.expr(
                "transform(xd, x -> CAST(floor(x * scale + 0.5) AS BIGINT))"
            ).alias("q"),
        )
        qq = qd.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
        )
        cand = qd.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("qb"))
        dot = F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, x) -> a + x)"
        )
        nrm = lambda c: F.expr(
            f"aggregate(transform({c}, x -> x * x), 0L, (a, x) -> a + x)"
        )
        scored = (
            qq.crossJoin(cand)
            .filter(F.col("query_id") != F.col("cand_id"))
            .select(
                "query_id",
                "cand_id",
                (
                    dot.cast("double")
                    / F.sqrt(nrm("qa").cast("double") * nrm("qb").cast("double"))
                ).alias("qsim"),
            )
        )
        ranked = scored.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cand_id"))
            ),
        ).filter(F.col("rnk") <= k)
        hits = exact.join(
            ranked,
            (exact.query_id == ranked.query_id)
            & (F.col("e_cand") == F.col("cand_id")),
            "left",
        ).agg(
            F.lit(b).cast("long").alias("bits"),
            F.sum(F.col("cand_id").isNotNull().cast("long")).alias("n_hits"),
            F.count(F.lit(1)).alias("n_expected"),
        )
        levels.append(hits)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out.select(
        "bits",
        "n_hits",
        "n_expected",
        F.expr("n_hits * 1000000 div n_expected").alias("recall_ppm"),
    )


def centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E276: per-label centroid drift — cosine between each label's
    centroid over the EARLIER half of vectors (by vec_id arrival) and
    its centroid over the LATER half. The index-staleness monitor: an
    IVF/k-means index built on old data degrades exactly as fast as
    these drifts fall from 1.0; re-cluster when they cross a floor.
    (On this fixture the label centroids are noise-dominated — ~25
    random vectors nearly cancel — so the drifts sit near 0; the
    monitor is calibrated by the exact replay, not by a target value.)

    Determinism: components quantize per row to the exact 1e-4 grid
    (the E214 convention) so each half's centroid is a RATIONAL
    (exact long component sums ÷ count); the cosine of two rationals
    needs no division by counts at all (scale invariance — the counts
    cancel), leaving one fixed IEEE pipeline over three exact long
    dot products. Shape: posexplode to (label, half) partial
    sums — pure map-side combine with NO array state in any
    aggregation buffer (a collect_list-then-fold centroid would hold
    a whole group's vectors in one buffer — the memory trap this
    formulation exists to avoid); the per-dimension halves then
    equi-join on (label) and fold to per-label dot products.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("early"),
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000)"
                " AS BIGINT))"
            )
        ).alias("dim", "qv"),
    )
    sums = comp.groupBy("label", "early", "dim").agg(F.sum("qv").alias("s"))
    counts = emb.groupBy(
        "label", (F.col("vec_id") % 2 == 0).alias("early")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = sums.filter(F.col("early")).select("label", "dim", F.col("s").alias("sa"))
    b = sums.filter(~F.col("early")).select("label", "dim", F.col("s").alias("sb"))
    dots = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("na"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb"),
        )
    )
    ne = counts.filter(F.col("early")).select("label", F.col("n").alias("n_early"))
    nl = counts.filter(~F.col("early")).select("label", F.col("n").alias("n_late"))
    return (
        dots.join(F.broadcast(ne), "label")
        .join(F.broadcast(nl), "label")
        .select(
            "label",
            "n_early",
            "n_late",
            F.expr(
                "CAST(floor(CAST(dot AS DOUBLE)"
                " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"
                " * 1000000.0) AS BIGINT)"
            ).alias("drift_cos_micro"),
        )
    )


def similarity_calibration(
    spark: SparkSession, sf_dir: str, n_queries: int = 5
) -> DataFrame:
    """EXT E277: similarity-score calibration — over every scored
    (query, candidate) pair of the bounded query set, bin the cosine
    into deciles of [−1, 1] and report each bin's SAME-LABEL rate: the
    reliability diagram of the embedding space ("does cosine 0.8 mean
    80% same-label?"). A mis-calibrated similarity score silently
    corrupts every threshold-based decision built on it (dedup
    cutoffs, retrieval floors, ANN acceptance).

    Rides the E3 broadcast-bounded scoring (all N candidates per
    query, not just top-k — calibration needs the low bins too); bin
    index is pure integer arithmetic on the 6dp-rounded score; rates
    are exact ppm.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    sim = F.round(
        dot_product(F.col("q_emb"), F.col("c_emb"))
        / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))),
        6,
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            (F.col("q_label") == F.col("c_label")).cast("long").alias("same"),
            sim.alias("s"),
        )
        .select(
            "same",
            F.expr(
                "least(greatest(CAST(floor((s + 1.0) * 5.0) AS BIGINT), 0), 9)"
            ).alias("bin"),
        )
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("same").alias("n_same_label"),
        F.expr("sum(same) * 1000000 div count(1)").alias("same_label_ppm"),
    )


def similarity_pr_curve(
    spark: SparkSession, sf_dir: str, n_queries: int = 5,
    thresholds: tuple = (20, 40, 60, 80),
) -> DataFrame:
    """EXT E279: precision/recall curve for the cosine-≥-t same-label
    predictor — at each candidate threshold (percent): predicted
    positives, true positives, precision and recall in exact ppm. The
    operating-point table read NEXT TO the calibration diagram (E277):
    calibration says what a score means, PR says what a CUTOFF costs.

    One scored pass over the bounded query set (shared with E277's
    shape); every threshold folds into the SAME aggregate as
    conditional sums — one scan, |thresholds| output rows, all exact
    integers.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    sim = F.round(
        dot_product(F.col("q_emb"), F.col("c_emb"))
        / (l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))),
        6,
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            (F.col("q_label") == F.col("c_label")).cast("long").alias("same"),
            sim.alias("s"),
        )
        .select("same", F.expr("CAST(round(s * 1000000) AS BIGINT)").alias("su"))
    )
    aggs = [F.sum("same").alias("n_pos")]
    for t in thresholds:
        cut = t * 10000
        aggs.append(
            F.sum((F.col("su") >= cut).cast("long")).alias(f"pp_{t}")
        )
        aggs.append(
            F.sum(((F.col("su") >= cut) & (F.col("same") == 1)).cast("long")).alias(
                f"tp_{t}"
            )
        )
    s = scored.agg(*aggs)
    rows = ", ".join(
        f"{t}L, pp_{t}, tp_{t},"
        f" CASE WHEN pp_{t} > 0 THEN tp_{t} * 1000000 div pp_{t} ELSE -1 END,"
        f" CASE WHEN n_pos > 0 THEN tp_{t} * 1000000 div n_pos ELSE -1 END"
        for t in thresholds
    )
    return s.selectExpr(
        f"stack({len(thresholds)}, {rows})"
        " AS (threshold_pct, n_predicted, n_true_pos, precision_ppm, recall_ppm)"
    )


def two_stage_retrieval_audit(
    spark: SparkSession, sf_dir: str, k_final: int = 5, k_candidates: int = 20
) -> DataFrame:
    """EXT E280: retrieve-then-rerank audit — the production retrieval
    architecture (cheap ANN candidate generation → exact scoring of
    the short list) measured end-to-end: per query, how much of the
    exact top-k survives when only the IVF top-``k_candidates`` are
    rerank-eligible. The candidate stage is the recall CEILING of the
    whole system; this table says whether k_candidates is large
    enough, which is the first knob tuned in any two-stage stack.

    Composes two verified operators: IVF (nprobe=4) provides the
    candidate set, the exact ranking provides ground truth; the audit
    itself is one equi-join + per-query counts. (Reranking the
    candidates by exact cosine then taking k_final is equivalent to
    intersecting with the exact order — which is what the join
    measures.)
    """
    exact = cosine_topk(spark, sf_dir, k=k_final).select(
        "query_id", F.col("cand_id").alias("e_cand")
    )
    cands = ivf_topk(spark, sf_dir, k=k_candidates).select(
        "query_id", F.col("cand_id").alias("a_cand")
    )
    hits = exact.join(
        cands,
        (exact.query_id == cands.query_id) & (F.col("e_cand") == F.col("a_cand")),
        "left",
    ).select(exact.query_id, F.col("a_cand").isNotNull().cast("long").alias("hit"))
    return hits.groupBy("query_id").agg(
        F.sum("hit").alias("n_retrievable"),
        F.count(F.lit(1)).alias("k_final"),
        F.expr("sum(hit) * 1000000 div count(1)").alias("ceiling_recall_ppm"),
    )


def knn_classifier_eval(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """EXT E290: k-NN classification eval — each query's label
    predicted by MAJORITY VOTE of its top-k cosine neighbors (ties →
    smallest label id, the deterministic break), with the vote
    tally and a correctness flag against the true label. The
    embedding-quality eval that asks the question retrieval metrics
    (NDCG/MRR, E?/E215) don't: does the neighborhood structure
    actually CLASSIFY? Completes the eval suite's third face:
    ranking (NDCG), first-hit (MRR), decision (kNN).

    Rides the verified top-k ranking + one broadcast label lookup;
    the vote is a grouped count + one relational argmax (max count,
    then min label — no window sort); everything integer-exact.
    """
    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k)
    emb = load_table(spark, sf_dir, "embeddings")
    c_lab = emb.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label"))
    q_lab = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    votes = (
        ranked.join(c_lab, "cand_id")
        .groupBy("query_id", "c_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    top = votes.groupBy("query_id").agg(F.max("v").alias("mv"))
    pred = (
        votes.join(top, "query_id")
        .filter(F.col("v") == F.col("mv"))
        .groupBy("query_id")
        .agg(F.min("c_label").alias("pred_label"), F.max("mv").alias("n_votes"))
    )
    return (
        pred.join(F.broadcast(q_lab), "query_id")
        .select(
            "query_id",
            "q_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("q_label")).cast("long").alias("correct"),
        )
    )


def semdedup_prune(
    spark: SparkSession,
    sf_dir: str,
    eps: float = 0.4,
    n_cells: int = 16,
    n_iter: int = 2,
    index_dir: str | None = None,
) -> DataFrame:
    """EXT E300: SemDeDup-style semantic pruning (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within a cluster, and prune every vector whose cosine to an
    EARLIER cluster-mate (vec_id order = arrival order, the repo's
    min-survivor convention) exceeds ``eps``. (The synthetic fixture
    embeddings are near-orthogonal, so the gate default is eps=0.4 —
    low enough to exercise the prune path non-vacuously; production
    text embeddings run this at 0.9+.) Catches paraphrase-level
    duplicates that lexical MinHash misses — the semantic rung of the
    dedup ladder (E1 exact → E2 lexical → E300 semantic).

    Scale shape: rides the PERSISTED IVF index (E297) — clusters are
    the index's cells, so the quadratic pair step is bounded per cell
    (at 100 TB: cells sized ~|corpus|/k, with the E3 hot-block SRP
    sub-bucketing recipe available past that). One parquet scan of
    assignments joined to vectors, one within-cell self-join, one
    groupBy(vec). No centroid derivation at query time.

    Output: one row per PRUNED vector — (vec_id, cell, closest
    earlier cell-mate, its cosine r6).
    """
    if index_dir is None:
        index_dir = _ivf_index_dir(spark, sf_dir, n_cells, n_iter)
    _, assign = load_ivf_index(spark, index_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    cand = assign.join(emb, "vec_id")
    a = cand.select(
        F.col("cell"),
        F.col("vec_id").alias("earlier_id"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = cand.select(
        F.col("cell"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(
        denom > F.lit(0.0), dot_product(F.col("e_a"), F.col("e_b")) / denom
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("earlier_id") < F.col("vec_id"))
        .select("cell", "vec_id", "earlier_id", cos.alias("cs"))
        .filter(F.col("cs") >= eps)
    )
    return (
        pairs.groupBy("vec_id", "cell")
        .agg(
            F.max_by(
                "earlier_id", F.struct(F.col("cs"), -F.col("earlier_id"))
            ).alias("dup_of"),
            F.round(F.max("cs"), 6).alias("max_cosine"),
            F.count(F.lit(1)).alias("n_earlier_dups"),
        )
        .select("vec_id", "cell", "dup_of", "max_cosine", "n_earlier_dups")
    )


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, n_anchors: int = 8
) -> DataFrame:
    """EXT E302: contrastive-training pair mining — for each anchor,
    the HARD POSITIVE (most-similar vector sharing its label) and the
    HARD NEGATIVE (most-similar vector with a DIFFERENT label), plus
    the margin between them in micro units. Anchors with negative
    margin are the label-noise / boundary cases a contrastive run
    learns from (and an annotation queue reviews first).

    Plan: bounded broadcast of the anchor block against one scan of
    the vector relation (the E3 cosine_topk shape — BNLJ by design,
    the broadcast side is ``n_anchors`` rows); per-anchor argmax via
    ``max_by`` on the raw IEEE cosine (identical fold both engines)
    with id tie-break, map-side partial aggregation, no windows.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    anchors = emb.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    denom = F.col("a_nrm") * F.col("nrm")
    cos = F.when(
        denom > F.lit(0.0),
        dot_product(F.col("a_emb"), F.col("embedding")) / denom,
    )
    scored = (
        F.broadcast(anchors)
        .join(emb, F.col("anchor_id") != F.col("vec_id"))
        .select(
            "anchor_id",
            "a_label",
            "vec_id",
            "label",
            cos.alias("cs"),
            (F.col("label") == F.col("a_label")).alias("same"),
        )
    )
    arg = F.struct(F.col("cs"), -F.col("vec_id"))
    per = scored.groupBy("anchor_id", "a_label").agg(
        F.max_by(F.when(F.col("same"), F.col("vec_id")), F.when(F.col("same"), arg)).alias("pos_id"),
        F.max(F.when(F.col("same"), F.col("cs"))).alias("pos_cs"),
        F.max_by(F.when(~F.col("same"), F.col("vec_id")), F.when(~F.col("same"), arg)).alias("neg_id"),
        F.max(F.when(~F.col("same"), F.col("cs"))).alias("neg_cs"),
    )
    return (
        # an anchor with no same-label peer (single-member label among
        # the anchors' candidate pool) or no different-label peer has
        # no (pos, neg) pair to mine — drop it, matching the oracle's
        # inner p JOIN n semantics, instead of emitting NULL ids that
        # the oracle would never produce
        per.filter(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
        .select(
            "anchor_id",
            "a_label",
            "pos_id",
            F.round("pos_cs", 6).alias("pos_cosine"),
            "neg_id",
            F.round("neg_cs", 6).alias("neg_cosine"),
            F.floor((F.col("pos_cs") - F.col("neg_cs")) * 1e6).cast("long").alias("margin_micro"),
        )
    )


def top_principal_component(
    spark: SparkSession, sf_dir: str, n_iter: int = 2
) -> DataFrame:
    """EXT E306: top principal component of the centered embedding
    cloud by POWER ITERATION expressed entirely as DataFrame algebra —
    the covariance matrix is NEVER materialized (64×64 would be fine;
    4096² at modern embedding widths would not): each iterate is
    ``w ← Σ_i (v_i·w) v_i`` — one data scan with the 64-dim ``w``
    broadcast as a one-row array, then a posexplode-sum back to the
    next ``w``. The eigencolumn every embedding-drift monitor and
    whitening pass needs, at 100 TB cost = ``n_iter`` scans.

    Determinism: the per-element products are cast to DECIMAL(38,12)
    before summation (order-independent exact sums — the E30/E56
    recipe); normalization and the final Rayleigh quotient are single
    IEEE ops on those exact sums, so the DuckDB oracle replays the
    loop bit-for-bit. Seed = unit vector along dim 0 (fixture
    embeddings have mass in every dim, so convergence is immediate);
    sign follows the seed deterministically.
    """
    centered, w = _centered_and_top_pc(spark, sf_dir, n_iter)
    final = centered.join(F.broadcast(w)).select(
        "c", dot_product(F.col("c"), F.col("w")).alias("s")
    )
    lam = F.broadcast(
        final.agg(
            (
                F.sum((F.col("s") * F.col("s")).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("eigval")
        )
    )
    return (
        w.select(F.posexplode("w").alias("pos", "loading"))
        .join(lam)
        .select(
            "pos",
            F.round("loading", 6).alias("loading"),
            F.round("eigval", 4).alias("eigval"),
        )
    )


def _centered_and_top_pc(
    spark: SparkSession, sf_dir: str, n_iter: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Shared power-iteration core for E306/E313: returns the
    mean-centered vector relation (vec_id, c) and the one-row unit
    eigenvector relation (w). See :func:`top_principal_component` for
    the determinism contract."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dim = F.broadcast(emb.select(F.size("v").alias("d")).limit(1))
    mean = (
        emb.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "pos",
                            (F.col("s").cast("double") / F.col("n")).alias("m"),
                        )
                    )
                ),
                lambda st: st["m"],
            ).alias("mu")
        )
    )
    centered = emb.join(F.broadcast(mean)).select(
        "vec_id", F.zip_with("v", "mu", lambda a, b: a - b).alias("c")
    )
    # w as a one-row array relation; seed e_0
    w = dim.select(
        F.transform(
            F.sequence(F.lit(0), F.col("d") - 1),
            lambda i: F.when(i == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("w")
    )
    for _ in range(n_iter):
        scored = centered.join(F.broadcast(w)).select(
            "c", dot_product(F.col("c"), F.col("w")).alias("s")
        )
        upd = (
            scored.select(F.col("s"), F.posexplode("c").alias("pos", "val"))
            .groupBy("pos")
            .agg(
                F.sum((F.col("s") * F.col("val")).cast("decimal(38,12)")).alias("u")
            )
            .groupBy()
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("pos", F.col("u").cast("double").alias("uv"))
                        )
                    ),
                    lambda st: st["uv"],
                ).alias("raw")
            )
        )
        w = upd.select(
            F.transform(
                "raw",
                lambda x: x
                / F.sqrt(
                    F.aggregate(
                        "raw", F.lit(0.0), lambda acc, y: acc + y * y
                    )
                ),
            ).alias("w")
        )
    return centered, w


def embedding_abtt(spark: SparkSession, sf_dir: str, n_iter: int = 2) -> DataFrame:
    """EXT E313: all-but-the-top embedding post-processing (Mu &
    Viswanath 2018, arXiv:1702.01417): subtract the corpus mean and
    the projection on the dominant principal component from every
    embedding — the two-line fix that removes the anisotropic common
    direction and measurably improves cosine-similarity quality. Rides
    the E306 power-iteration core (shared ``_centered_and_top_pc``).

    Output is the audit relation a pipeline stores next to the
    rewritten vectors: per vec, the projection coefficient on the top
    PC and the norm before/after removal (all r6 — each is one IEEE
    op over DECIMAL-exact folds, so the oracle replays it exactly).
    Full-vector rewrite is the same ``zip_with`` minus the select of
    these diagnostics — one scan either way.
    """
    centered, w = _centered_and_top_pc(spark, sf_dir, n_iter)
    proj = centered.join(F.broadcast(w)).select(
        "vec_id",
        "c",
        "w",
        dot_product(F.col("c"), F.col("w")).alias("t"),
    )
    out = proj.select(
        "vec_id",
        F.col("t"),
        l2_norm(F.col("c")).alias("nb"),
        l2_norm(
            F.zip_with("c", "w", lambda cv, wv: cv - F.col("t") * wv)
        ).alias("na"),
    )
    return out.select(
        "vec_id",
        F.round("t", 6).alias("proj_coeff"),
        F.round("nb", 6).alias("norm_before"),
        F.round("na", 6).alias("norm_after"),
    )


def label_cohesion_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E307: per-label MEAN PAIRWISE COSINE without a pair join —
    the sum-vector identity ``Σ_{i≠j} û_i·û_j = ‖Σ û‖² − n`` on
    unit-normalized vectors turns the O(n²) cohesion statistic into
    ONE O(n) scan (normalize → per-(label) exact component sums
    → ‖·‖² fold on the k×64 relation). THE scale story is the
    algebra: a 10⁹-vector label costs the same per row as a 10³ one.
    Pytest cross-checks the identity against a brute-force numpy pair
    loop; the oracle replays the identity itself.

    Output: label, n_vecs, mean pairwise cosine in FLOORED micro units
    (exact integer — engine-identical because the component sums are
    DECIMAL-exact and the final quotient is one IEEE divide).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    unit = emb.filter(F.col("nrm") > 0).select(
        "label",
        F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias(
            "u"
        ),
    )
    comp = (
        unit.select("label", F.posexplode("u").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum(F.col("val").cast("decimal(38,12)")).alias("s"))
        .select(
            "label",
            # square in double (deterministic per element), then an
            # order-independent DECIMAL-exact sum over the 64 dims
            (F.col("s").cast("double") * F.col("s").cast("double"))
            .cast("decimal(38,12)")
            .alias("s2"),
        )
        .groupBy("label")
        .agg(F.sum("s2").cast("double").alias("ssq"))
    )
    n = unit.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        n.join(comp, "label")
        .filter(F.col("n_vecs") > 1)
        .select(
            "label",
            "n_vecs",
            F.floor(
                (F.col("ssq") - F.col("n_vecs"))
                / (F.col("n_vecs") * (F.col("n_vecs") - F.lit(1)))
                * 1e6
            )
            .cast("long")
            .alias("mean_pair_cos_micro"),
        )
    )


def kcenter_coreset(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """EXT E332: k-center greedy coreset selection (Sener & Savarese
    2018, arXiv:1708.00489 — farthest-point sampling): starting from
    the deterministic seed (vec_id 0), repeatedly add the vector whose
    distance to the CURRENT selection is largest. The classic
    diverse-eval-set / annotation-budget picker: k points that cover
    the embedding cloud with minimax radius ≤ 2× optimal.

    Distance = cosine distance (1 − cos), computed against the
    selected set as a BROADCAST relation (|selected| ≤ k rows); each
    of the k−1 rounds is one scan + map-side ``min``/``max_by`` — no
    windows, no driver actions; round boundaries cut lineage
    (coalesce(1) single-row relations, the E314 discipline). The
    DuckDB oracle unrolls the same rounds as MATERIALIZED stages.

    Output: the selection log (pick order, vec_id, and the selection
    distance — the covering-radius curve a budget decision reads).
    """
    from parquet_to_csv_spark.operators.dedup import _cut_lineage

    denom = F.col("nrm") * F.col("s_nrm")
    dist = F.lit(1.0) - F.when(
        denom > F.lit(0.0),
        dot_product(F.col("embedding"), F.col("s_emb")) / denom,
    )

    # Round 12 (guide §2.1): the per-round min-distance is INCREMENTAL
    # — md_r(x) = least(md_{r-1}(x), d(x, new_pick)) — the standard
    # farthest-point-sampling recurrence. The previous shape rejoined
    # ALL r selected rows each round and re-minimized via a
    # groupBy(vec_id, embedding, nrm), which re-scanned the parquet
    # AND shuffled the full N-row embedding relation once per round
    # (unique keys ⇒ the partial agg reduced nothing). Now each round
    # is a map-only update of the checkpointed candidate state against
    # the ONE new pick (1-row broadcast): zero N-row exchanges, zero
    # re-scans, N·k instead of N·k² pair distances. min over a set ==
    # the incremental least() chain exactly (no rounding in min), and
    # each d is the identical fold — results are bit-identical.
    def _as_s(one_row):
        return F.broadcast(
            one_row.select(
                F.col("vec_id").alias("s_id"),
                F.col("embedding").alias("s_emb"),
                F.col("nrm").alias("s_nrm"),
            )
        )

    seed = _cut_lineage(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(
            F.lit(0).alias("pick"),
            "vec_id",
            F.lit(None).cast("double").alias("sel_dist"),
            "embedding",
            l2_norm(F.col("embedding")).alias("nrm"),
        )
        .coalesce(1)
    )
    cand = _cut_lineage(
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
        )
        .join(_as_s(seed), F.col("vec_id") != F.col("s_id"))
        .select("vec_id", "embedding", "nrm", dist.alias("md"))
    )
    log = seed.select("pick", "vec_id", "sel_dist")
    for r in range(1, k):
        picked = _cut_lineage(
            cand.groupBy()
            .agg(
                F.max_by(
                    F.struct("vec_id", "embedding", "nrm", "md"),
                    F.struct(F.col("md"), -F.col("vec_id")),
                ).alias("p")
            )
            .select(
                F.lit(r).alias("pick"),
                F.col("p.vec_id").alias("vec_id"),
                F.round(F.col("p.md"), 6).alias("sel_dist"),
                F.col("p.embedding").alias("embedding"),
                F.col("p.nrm").alias("nrm"),
            )
            .coalesce(1)
        )
        log = log.unionByName(picked.select("pick", "vec_id", "sel_dist"))
        if r < k - 1:
            cand = _cut_lineage(
                cand.join(_as_s(picked), F.col("vec_id") != F.col("s_id"))
                .select(
                    "vec_id",
                    "embedding",
                    "nrm",
                    F.least(F.col("md"), dist).alias("md"),
                )
            )
    return log


def label_diag_fid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT E336: diagonal-covariance Fréchet distance between label
    distributions in embedding space — FID's tractable diagonal form
    ``‖μ₁−μ₂‖² + Σ_d (σ₁d − σ₂d)²`` (full FID needs a matrix square
    root no SQL engine should attempt; the diagonal form keeps the
    mean-shift + per-dimension-spread semantics and is the standard
    cheap variant). The distribution-level complement of E179's
    centroid distances (means only): two labels can share a centroid
    and still differ in spread.

    One scan → per-(label) DECIMAL-exact Σ and Σ² → per-label
    mean/σ arrays (64-row folds) → k²/2 label pairs on the tiny
    k-label relation. σ uses the population form with one sqrt per
    dim — fixed IEEE order, oracle-identical.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    comp = (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
            F.sum(
                (F.col("val") * F.col("val")).cast("decimal(38,12)")
            ).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("double") / F.col("n")).alias("mu"),
            F.sqrt(
                F.greatest(
                    F.col("ss").cast("double") / F.col("n")
                    - (F.col("s").cast("double") / F.col("n"))
                    * (F.col("s").cast("double") / F.col("n")),
                    F.lit(0.0),
                )
            ).alias("sigma"),
        )
    )
    a = comp.select(
        F.col("label").alias("label_a"),
        "pos",
        F.col("mu").alias("mu_a"),
        F.col("sigma").alias("sg_a"),
    )
    b = comp.select(
        F.col("label").alias("label_b"),
        "pos",
        F.col("mu").alias("mu_b"),
        F.col("sigma").alias("sg_b"),
    )
    pairs = a.join(b, "pos").filter(F.col("label_a") < F.col("label_b"))
    term = (F.col("mu_a") - F.col("mu_b")) * (F.col("mu_a") - F.col("mu_b")) + (
        F.col("sg_a") - F.col("sg_b")
    ) * (F.col("sg_a") - F.col("sg_b"))
    return (
        pairs.select(
            "label_a",
            "label_b",
            term.cast("decimal(38,12)").alias("t"),
        )
        .groupBy("label_a", "label_b")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("diag_fid"))
    )


def rbo_rank_agreement(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Rank-biased overlap (E365, Webber et al. 2010) between the EXACT
    cosine ranking (:func:`cosine_topk`) and the IVF approximate
    ranking (:func:`ivf_topk`), per query — the ranking-agreement
    companion to recall@k (E174): recall only asks "did the right ids
    surface?"; RBO weights agreement geometrically toward the TOP of
    the lists, which is what an ANN serving stack actually sells.

    Exactness: with persistence p = 1/2 every RBO weight is a dyadic
    rational — truncated RBO = Σ_d (1−p)·p^(d−1)·|A_d∩B_d|/d over
    depths d ≤ k. With common denominator D = 2^k·lcm(1..k), a matched
    pair first co-present at depth m = max(rank_a, rank_b) contributes
    the INTEGER suffix weight W_m = Σ_{d≥m} D/(d·2^d), so the whole
    statistic is an exact BIGINT sum (`rbo_num`/D), oracle-hashable;
    the display double is one division + round. Identical lists score
    (D − 2^k·lcm/…)/D = 1 − p^k.

    Plan: both rankings are tiny by construction (n_queries × k rows
    AFTER their own distributed top-k plans); the RBO join + aggregate
    adds no data-grain work beyond the two rankers it audits.
    """
    from math import gcd

    lcm = 1
    for d in range(1, k + 1):
        lcm = lcm * d // gcd(lcm, d)
    denom = (1 << k) * lcm
    w_suffix = [
        sum(denom // (d * (1 << d)) for d in range(m, k + 1))
        for m in range(1, k + 1)
    ]

    exact = cosine_topk(spark, sf_dir, k=k).select(
        "query_id", "cand_id", F.col("rnk").alias("ra")
    )
    approx = ivf_topk(spark, sf_dir, k=k).select(
        "query_id", "cand_id", F.col("rnk").alias("rb")
    )
    weights = F.array(*[F.lit(w) for w in w_suffix])
    pairs = exact.join(approx, ["query_id", "cand_id"]).select(
        "query_id",
        F.element_at(weights, F.greatest("ra", "rb")).alias("w"),
    )
    agg = pairs.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("w").cast("long").alias("rbo_num"),
    )
    qs = exact.select("query_id").distinct()
    return qs.join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias("n_common"),
        F.coalesce(F.col("rbo_num"), F.lit(0).cast("long")).alias("rbo_num"),
        F.round(
            F.coalesce(F.col("rbo_num"), F.lit(0).cast("long"))
            / F.lit(float(denom)),
            6,
        ).alias("rbo"),
    )


def ivf_index_append_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    delta_buckets: int = 5,
) -> DataFrame:
    """EXT E391: IVF index APPEND — the lifecycle step between E297's
    build and E298's staleness-triggered rebuild. New vectors arrive
    (delta = a deterministic md5 fifth of the corpus); instead of
    rebuilding, they are assigned to the PERSISTED centroids with the
    index's own rule (min squared distance, cell tie-break) and
    parquet-APPENDED to the assignments relation — an O(delta)
    maintenance write, no base re-scan, no centroid churn.

    The gate then queries top-k THROUGH the appended index. Because
    append uses the same assignment rule the builder applies, the
    appended index is bit-identical to "assign everything to the base
    centroids" — which is exactly what the DuckDB oracle replays
    (base-filtered Lloyd build + full-corpus assignment). What drifts
    after an append is the CENTROIDS' fit, not the assignment — E298's
    staleness report prices the rebuild decision.

    The appended index (base build + delta append) is one
    ``layout.claim_artifact`` entry: it commits only after the append,
    so no process ever serves a base-only index.
    """
    import os

    from parquet_to_csv_spark.operators.corpus import md5_bucket
    from parquet_to_csv_spark.sources.layout import claim_artifact
    from parquet_to_csv_spark.sources.tables import source_salt

    salt = source_salt(sf_dir, "embeddings")

    def _build(stage: str) -> None:
        base_pred = md5_bucket(F.col("vec_id"), delta_buckets) != 0
        build_ivf_index(
            spark, sf_dir, stage, n_cells=n_cells, n_iter=2, where=base_pred
        )
        cents_t = spark.read.parquet(os.path.join(stage, "centroids"))
        delta = (
            load_table(spark, sf_dir, "embeddings")
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias(
                    "v"
                ),
            )
            .filter(md5_bucket(F.col("vec_id"), delta_buckets) == 0)
        )
        _nearest_cell(delta, cents_t, ["vec_id"]).write.mode("append").parquet(
            os.path.join(stage, "assignments")
        )

    path = claim_artifact(
        spark, f"ivf_append_c{n_cells}_b{delta_buckets}_{salt}", _build
    )
    return ivf_indexed_topk(
        spark,
        sf_dir,
        n_queries=n_queries,
        k=k,
        n_cells=n_cells,
        nprobe=nprobe,
        index_dir=path,
    )


def embedding_contamination_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """EXT E422: EMBEDDING-level benchmark contamination — the semantic
    sibling of the token-based checks (E27 n-gram containment, E417
    paraphrase shingles): a benchmark item leaks into training data as
    a TRANSLATION or free rewrite that shares almost no surface tokens
    but sits next to the original in embedding space. Label-0 vectors
    play the held-out benchmark suite; every other vector is training
    corpus. Per training label: corpus size, how many vectors clear
    the cosine contamination threshold against ANY benchmark item, and
    the hottest similarity observed (the triage number).

    Scale shape: benchmark suites are small and bounded by definition
    (thousands of items, not corpus-sized), so the benchmark side is a
    broadcast and the scan is ONE pass over the training vectors —
    cost O(corpus × |bench|) multiply-adds with no shuffle on the
    corpus side; the per-vector max collapses in the same aggregation.
    The threshold (0.35) sits above this fixture's cross-label p99
    (~0.29, measured) so the report is selective, not a row dump.
    """
    # norms are projected ONCE per vector (not recomputed per pair —
    # measured 3× on the 2.25 M-pair sf0.1 crossing); the per-pair sim
    # dot/(na·nb) is numerically identical to cosine_similarity, which
    # evaluates the same sqrt-of-sum values inline.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("e"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    bench = emb.filter(F.col("label") == 0).select(
        F.col("e").alias("be"), F.col("nrm").alias("bnrm")
    )
    train = emb.filter(F.col("label") != 0)
    per_vec = (
        train.join(F.broadcast(bench))
        .select(
            "label",
            "vec_id",
            F.round(
                dot_product(F.col("e"), F.col("be"))
                / (F.col("nrm") * F.col("bnrm")),
                6,
            ).alias("cos"),
        )
        .groupBy("label", "vec_id")
        .agg(F.max("cos").alias("max_cos"))
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            F.when(F.col("max_cos") >= threshold, 1).otherwise(0)
        ).cast("long").alias("n_contaminated"),
        F.max("max_cos").alias("max_similarity"),
    )


def map_label_match(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """EXT E482: average precision @k (AP) of the exact cosine
    retriever against label-match relevance — the third leg of the
    ranking-eval triad beside NDCG (E114, graded-discount view) and
    MRR (E215, first-hit view): AP integrates precision over every
    relevant position, so it rewards putting ALL relevant items early,
    not just one.

    AP@k = (1/min(R,k)) Σ_{i≤k, rel_i} P@i, with R = the query's
    relevant-corpus size (label count − 1). Composes the gate-verified
    :func:`cosine_topk` total order; P@i = cum_rel/i becomes an exact
    floor(x·1e6+0.5) integer per position (no divisor ≤ k can place
    the true rational ON a rounding boundary: every i ≤ 10 divides
    2·10⁶ to an even quotient), the per-query sum is exact long
    addition, and the final normalization is one integer floor
    division. Scale: rides cosine_topk's broadcast-bounded contract.
    """
    from pyspark.sql import Window as W

    ranked = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k)
    emb = load_table(spark, sf_dir, "embeddings")
    q_lab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    c_lab = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    lab_n = F.broadcast(
        emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    )
    w = W.partitionBy("query_id").orderBy("rnk")
    scored = (
        ranked.join(F.broadcast(q_lab), "query_id")
        .join(c_lab, "cand_id")
        .withColumn(
            "rel", (F.col("q_label") == F.col("c_label")).cast("long")
        )
        .withColumn("cum_rel", F.sum("rel").over(w))
        .withColumn(
            "p_at_i_micro",
            F.floor(
                F.col("cum_rel").cast("double") / F.col("rnk") * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    per_q = scored.groupBy("query_id", "q_label").agg(
        F.sum(F.col("rel") * F.col("p_at_i_micro")).alias("ap_sum_micro"),
        F.sum("rel").alias("n_rel_at_k"),
    )
    r_norm = F.least(F.lit(k).cast("long"), F.col("n_label") - 1)
    return (
        per_q.join(lab_n, per_q.q_label == lab_n.label)
        .withColumn("r_norm", r_norm)
        .select(
            "query_id",
            "n_rel_at_k",
            "r_norm",
            F.when(
                F.col("r_norm") > 0,
                F.expr("ap_sum_micro div r_norm"),
            ).alias("ap_micro"),
        )
    )


def knn_shapley_values(
    spark: SparkSession, sf_dir: str, n_test: int = 4, knn_k: int = 5
) -> DataFrame:
    """EXT E486: exact KNN-Shapley data valuation (Jia et al., VLDB
    2019) — the training-data-valuation method with a CLOSED FORM:
    for a KNN surrogate model, each training point's exact Shapley
    contribution to test accuracy follows the recurrence
    s_N = 𝟙[y_N = y]/N,  s_i = s_{i+1} + (𝟙_i − 𝟙_{i+1})/max(i, K)
    over train points sorted by distance to the test point — no
    coalition enumeration (contrast E477's 2^|channels| lattice).
    The LLM-pipeline use: score every corpus document's marginal value
    against a trusted eval set, then drop negative-value data.

    All-relational: broadcast the ``n_test`` held-out points, rank
    train by cosine DESC (nearest first) per test point via
    ``banded_row_number`` (no unpartitioned window, no single-task
    sort), fetch 𝟙_{i+1} with ONE rank+1 self-equi-join, turn each
    recurrence step into an exact integer (numerator ∈ {−1,0,1} ×
    ``1e6 div max(i,K)``), and realize s_i as a banded SUFFIX sum
    (per-test total minus exclusive prefix). Top/bottom-k by summed
    value close the report — the highest-value and most-harmful
    training points.
    """
    from parquet_to_csv_spark.operators.relational import (
        banded_prefix_sum,
        banded_row_number,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") < n_test).select(
        F.col("vec_id").alias("test_id"),
        F.col("embedding").alias("t_emb"),
        F.col("label").alias("t_label"),
        l2_norm(F.col("embedding")).alias("t_nrm"),
    )
    train = emb.filter(F.col("vec_id") >= n_test).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    sim = dot_product(F.col("t_emb"), F.col("c_emb")) / (
        F.col("t_nrm") * F.col("c_nrm")
    )
    scored = (
        F.broadcast(test)
        .join(train)
        .select(
            "test_id",
            "cand_id",
            (-sim).alias("neg_sim"),
            (F.col("t_label") == F.col("c_label")).cast("long").alias("m"),
        )
    )
    ranked = banded_row_number(
        scored,
        ["neg_sim", "cand_id"],
        F.floor(F.col("neg_sim") * 32),
        out_col="rn",
        group_cols=["test_id"],
        total_col="n_train",
    )
    nxt = ranked.select(
        "test_id",
        (F.col("rn") - 1).alias("rn"),
        F.col("m").alias("m_next"),
    )
    steps = ranked.join(nxt, ["test_id", "rn"], "left").withColumn(
        "d_micro",
        F.when(
            F.col("m_next").isNotNull(),
            (F.col("m") - F.col("m_next"))
            * F.expr(f"1000000 div greatest(rn, {knn_k})"),
        ).otherwise(F.col("m") * F.expr("1000000 div n_train")),
    )
    # suffix sum s_i = total - exclusive prefix = total - (cum_i - d_i)
    cum = banded_prefix_sum(
        steps,
        ["rn"],
        "d_micro",
        (F.col("rn") - 1) / F.lit(64),
        out_col="cum_micro",
        group_cols=["test_id"],
    )
    totals = cum.groupBy("test_id").agg(
        F.sum("d_micro").cast("long").alias("tot_micro")
    )
    vals = (
        cum.join(F.broadcast(totals), "test_id")
        .withColumn(
            "s_micro", F.col("tot_micro") - F.col("cum_micro") + F.col("d_micro")
        )
        .groupBy("cand_id")
        .agg(
            F.sum("s_micro").cast("long").alias("shap_sum_micro"),
            F.count(F.lit(1)).cast("long").alias("n_tests"),
        )
    )
    top = (
        vals.orderBy(F.desc("shap_sum_micro"), F.asc("cand_id"))
        .limit(20)
        .withColumn("side", F.lit("top"))
    )
    bottom = (
        vals.orderBy(F.asc("shap_sum_micro"), F.asc("cand_id"))
        .limit(20)
        .withColumn("side", F.lit("bottom"))
    )
    return top.unionByName(bottom).select(
        "side", "cand_id", "shap_sum_micro", "n_tests"
    )


def nndescent_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    rounds: int = 3,
    out_queries: int = 12,
    out_k: int = 5,
) -> DataFrame:
    """EXT E488: NN-Descent graph-ANN (Dong, Moses & Li, WWW 2011) —
    the GRAPH member of the ANN family beside IVF (E15/E297), SRP-LSH
    (E46) and PQ (E173), and the construction step of every
    HNSW-flavored index: start from a cheap candidate graph and
    repeatedly apply "my neighbor's neighbors are probably my
    neighbors", keeping each node's k best. Converges in a handful of
    rounds because the KNN graph's diameter under this expansion is
    tiny — measured here: recall@5 vs exact goes 0.08 (LSH seed) →
    0.20 → 0.57 → 0.92 across the three rounds at sf0.01.

    Determinism: random init is replaced by SRP-LSH seeding (two
    plane-literal tables — the E46 machinery), every round's candidate
    set is an exact relational expression (undirected closure ∪
    neighbors-of-neighbors), and per-node top-k ranks on (cosine DESC,
    cand_id). The oracle replays both rounds step for step.

    Scale: a round is two keyed exchanges — the NoN self-join on the
    shared middle node (|edges| ≈ 2kN rows in, ≤ (2k)²N out) and one
    per-node window over candidates. Nothing is ever quadratic in N;
    cost is O(k²·N·d) per round, the published complexity. Recall vs
    the exact brute-force top-k is asserted by pytest (≥ 0.9 on this
    corpus) — same audit contract as E174.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    tabs = srp_planes()[:2]
    seeds = None
    for t, planes in enumerate(tabs):
        s = emb.select(
            "vec_id", _srp_bucket("embedding", planes).alias("bkt")
        ).withColumn("t", F.lit(t))
        seeds = s if seeds is None else seeds.unionByName(s)
    sa = seeds.select("t", "bkt", F.col("vec_id").alias("a"))
    sb = seeds.select("t", "bkt", F.col("vec_id").alias("b"))
    # no .distinct() here: knn() dedupes (a, b) behind its single
    # exchange, so a pre-distinct would only add an exchange
    pairs0 = (
        sa.join(sb, ["t", "bkt"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    ea = emb.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )

    def knn(pairs: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        # ONE exchange for dedup + ranking (round 12, guide §2.4):
        # hash-partitioning on `a` CLUSTERS (a, b) — equal pairs land
        # in one partition — so the dropDuplicates aggregate needs no
        # exchange of its own, the broadcast embedding joins preserve
        # the partitioning, and the per-node window's required
        # clustering on `a` is already satisfied. The previous shape
        # (.distinct() before knn + window) exchanged every round's
        # candidate relation twice.
        scored = (
            pairs.repartition("a")
            .dropDuplicates(["a", "b"])
            .join(ea, "a")
            .join(eb, "b")
            .select(
                "a",
                "b",
                (
                    dot_product(F.col("e_a"), F.col("e_b"))
                    / (F.col("n_a") * F.col("n_b"))
                ).alias("sim"),
            )
        )
        w = W.partitionBy("a").orderBy(F.desc("sim"), F.asc("b"))
        return scored.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        )

    # size-gated broadcast for the NoN self-join: each side is ≤ 2kN
    # rows of two longs; the gate is the DATA's size (same gate as the
    # graph loops in dedup.py), so a billion-vector corpus keeps the
    # shuffle plan
    from parquet_to_csv_spark.operators.dedup import _BROADCAST_NODES_MAX

    n_emb = emb.count()
    bcast = (2 * k * n_emb) <= _BROADCAST_NODES_MAX
    _b = F.broadcast if bcast else (lambda df: df)

    # localCheckpoint between rounds: each round's plan references the
    # previous round THREE times (knn ∪ reverse ∪ NoN join), so the
    # unbroken lineage grows exponentially and Catalyst optimization
    # time, not the data, dominates (measured 46→8 s at sf0.1). Same
    # discipline as the connected-components rounds in dedup.py.
    cur = knn(pairs0).localCheckpoint(eager=False)
    for _ in range(rounds):
        und = (
            cur.select("a", "b")
            .unionByName(
                cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            .distinct()
        )
        x = und.select(F.col("a"), F.col("b").alias("mid"))
        y = und.select(F.col("a").alias("mid"), F.col("b"))
        non = (
            x.join(_b(y), "mid")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
        )
        cur = knn(und.unionByName(non)).localCheckpoint(eager=False)
    return (
        cur.filter((F.col("a") < out_queries) & (F.col("rn") <= out_k))
        .select(
            F.col("a").alias("query_id"),
            F.col("b").alias("cand_id"),
            F.round("sim", 6).alias("cosine"),
            F.col("rn").alias("rnk"),
        )
    )


def jl_distortion_audit(
    spark: SparkSession, sf_dir: str, out_dim: int = 16
) -> DataFrame:
    """EXT E513: Johnson–Lindenstrauss random-projection distortion
    audit — before shipping a cheap 64→16 projection (the dim-
    reduction rung beside PQ E173, int8 E42 and matryoshka E175),
    measure what it does to pairwise geometry: distortion =
    ‖Px−Py‖/√k / ‖x−y‖ per pair (Gaussian rows have unit variance, so
    E‖Pz‖² = k‖z‖² and 1/√k is the unbiasing scale), banded. JL says the spread
    concentrates near 1; a broken projection (correlated rows, wrong
    scaling) shifts whole bands.

    The projection is a seeded Gaussian literal matrix (the E46 plane
    machinery — no data pass); pairs are the deterministic id-offset
    set (1, 5); every distance is a fixed double expression, bands via
    floor. One scan, pair set linear in N.
    """
    tabs = srp_planes(n_bits=out_dim, n_tables=1, dim=64, seed=99)[0]
    emb = load_table(spark, sf_dir, "embeddings")

    def project(col):
        return F.array(
            *[
                dot_product(col, F.lit(list(plane)))
                for plane in tabs
            ]
        )

    base = emb.select("vec_id", "embedding", project(F.col("embedding")).alias("p"))
    offsets = spark.range(1).select(F.lit(1).alias("off")).unionAll(
        spark.range(1).select(F.lit(5).alias("off"))
    )
    ids = base.select(F.col("vec_id").alias("doc_b"))
    pairs = (
        base.select(
            F.col("vec_id").alias("doc_a"),
            F.col("embedding").alias("ea"),
            F.col("p").alias("pa"),
        )
        .join(F.broadcast(offsets))
        .withColumn("doc_b", F.col("doc_a") + F.col("off"))
        .join(ids, "doc_b")
        .join(
            base.select(
                F.col("vec_id").alias("doc_b"),
                F.col("embedding").alias("eb"),
                F.col("p").alias("pb"),
            ),
            "doc_b",
        )
    )
    d_full = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("ea"), F.col("eb"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    d_proj = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("pa"), F.col("pb"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        / F.lit(float(out_dim))
    )
    ratio = d_proj / d_full
    scored = pairs.filter(d_full > 0).select(
        F.floor(ratio * F.lit(10.0)).cast("long").alias("band")
    )
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def maxsim_late_interaction_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """EXT E514: late-interaction MaxSim retrieval (the ColBERT scoring
    rule, Khattab & Zaharia 2020) expressed relationally: treat each
    embedding as FOUR 16-dim sub-vectors ("token vectors"); score(q, d)
    = Σ over query sub-vectors of the MAX dot product against any doc
    sub-vector. Unlike single-vector cosine (E3), MaxSim rewards a doc
    that matches EACH facet of the query somewhere, the property that
    made late interaction the retrieval-quality standard.

    Shape: explode both sides to (id, slot, subvec) — 4 rows each —
    join query-sub × doc-sub per candidate (16 dot products per pair,
    still one broadcast-bounded pass), MAX per (query, doc, q_slot),
    SUM per (query, doc), top-k per query. Every reduction is max/sum
    over fixed doubles — engine-exact; ranking breaks ties on cand_id.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    slots = F.array(*[
        F.slice(F.col("embedding"), 1 + 16 * j, 16) for j in range(4)
    ])
    base = emb.select("vec_id", F.posexplode(slots).alias("slot", "sub"))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("slot").alias("q_slot"),
        F.col("sub").alias("q_sub"),
    )
    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("slot").alias("c_slot"),
        F.col("sub").alias("c_sub"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "q_slot",
            dot_product(F.col("q_sub"), F.col("c_sub")).alias("dp"),
        )
        .groupBy("query_id", "cand_id")
        .agg(
            *[
                F.max(F.when(F.col("q_slot") == j, F.col("dp"))).alias(
                    f"b{j}"
                )
                for j in range(4)
            ]
        )
        # FIXED-ORDER addition (b0+b1)+(b2+b3): a float sum aggregate
        # would be summation-order-dependent across engines
        .select(
            "query_id",
            "cand_id",
            (
                (F.col("b0") + F.col("b1")) + (F.col("b2") + F.col("b3"))
            ).alias("maxsim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "cand_id",
            F.floor(F.col("maxsim") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("maxsim_micro"),
            "rnk",
        )
    )


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    nprobe: int = 8,
    n_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """EXT E521: IVF-PQ — the production FAISS composite the suite had
    only as separate parts (IVF cells E15/E297, PQ codes E173):
    coarse-quantize to a cell, PRODUCT-quantize the RESIDUAL
    (v − centroid), and answer max-inner-product queries from the
    compressed form alone: score ≈ ⟨q, centroid⟩ + Σ_m ⟨q_m, code_m⟩.
    This is the memory layout that serves billion-vector indexes —
    8 code bytes + a cell id per vector.

    All deterministic fixed rules: centroids = first ``n_cells``
    vectors (the E15 convention), codebooks = the residual subvectors
    of training rows [n_cells, 2·n_cells). The per-subspace partial
    scores pivot into FIXED-ORDER addition (the E514 discipline — a
    float sum aggregate is summation-order-dependent). The compressed
    score is a SHORTLIST (4k per query), refined by an exact re-rank
    on the original vectors — FAISS's IVFPQR idiom; on this
    quasi-uniform corpus the 16-codeword residual books scramble fine
    ordering (recall 0.28 compressed-only → refined recovers the
    probe-limited ceiling). Recall vs the exact inner-product top-k is
    pytest-asserted; the oracle replays assignment, residual encoding,
    compressed shortlisting and the refine step for step.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("cent"),
        )
    )
    # coarse assignment: max inner product over cells, id tiebreak
    asg = (
        emb.join(cents)
        .select(
            "vec_id",
            "embedding",
            "cell_id",
            "cent",
            dot_product(F.col("embedding"), F.col("cent")).alias("ip"),
        )
        .groupBy("vec_id", "embedding")
        .agg(
            F.max_by(
                F.struct("cell_id", "cent"),
                F.struct(F.col("ip"), (-F.col("cell_id")).alias("tb")),
            ).alias("best")
        )
        .select(
            "vec_id",
            "embedding",
            F.col("best.cell_id").alias("cell"),
            F.zip_with(
                "embedding", "best.cent", lambda x, y: x.cast("double") - y
            ).alias("resid"),
        )
    )
    sub_expr = (
        "transform(sequence(0, 3), s -> slice(resid, s * 16 + 1, 16))"
    )
    subs = asg.select(
        "vec_id", "cell", F.posexplode(F.expr(sub_expr)).alias("m", "rsub")
    )
    books = F.broadcast(
        subs.filter(
            (F.col("vec_id") >= n_cells) & (F.col("vec_id") < 2 * n_cells)
        ).select(
            F.col("m"),
            (F.col("vec_id") - n_cells).alias("code"),
            F.col("rsub").alias("cw"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("rsub"), F.col("cw"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    coded = (
        subs.join(books, "m")
        .select("vec_id", "cell", "m", "code", "cw", d2.alias("d2"))
        .groupBy("vec_id", "cell", "m")
        .agg(
            F.min_by(
                F.struct("code", "cw"), F.struct(F.col("d2"), F.col("code"))
            ).alias("best")
        )
        .select("vec_id", "cell", "m", F.col("best.code").alias("code"))
    )
    # queries probe nprobe cells by centroid inner product
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w_probe = W.partitionBy("query_id").orderBy(
        F.desc("cip"), F.asc("cell_id")
    )
    probes = (
        F.broadcast(q)
        .join(cents)
        .select(
            "query_id",
            "q_emb",
            "cell_id",
            dot_product(F.col("q_emb"), F.col("cent")).alias("cip"),
        )
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "q_emb", F.col("cell_id").alias("cell"), "cip")
    )
    # per-subspace lookup score ⟨q_m, codeword⟩ for the candidate codes
    q_subs = probes.select(
        "query_id",
        "cell",
        "cip",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3),"
                " s -> slice(q_emb, s * 16 + 1, 16))"
            )
        ).alias("m", "q_sub"),
    )
    partials = (
        q_subs.join(coded, ["cell", "m"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(books, ["m", "code"])
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            "cip",
            "m",
            dot_product(F.col("q_sub"), F.col("cw")).alias("p"),
        )
        .groupBy("query_id", "cand_id", "cip")
        .agg(
            *[
                F.max(F.when(F.col("m") == j, F.col("p"))).alias(f"p{j}")
                for j in range(4)
            ]
        )
        .select(
            "query_id",
            "cand_id",
            (
                F.col("cip")
                + ((F.col("p0") + F.col("p1")) + (F.col("p2") + F.col("p3")))
            ).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    shortlist = (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4 * k)
        .select("query_id", "cand_id")
    )
    # exact refine on the shortlist (IVFPQR): 4k original-vector dot
    # products per query — the compressed pass did the pruning
    qv = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cv = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )
    refined = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            dot_product(F.col("qe"), F.col("ce")).alias("score"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        refined.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "cand_id",
            F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("score_micro"),
            "rnk",
        )
    )
